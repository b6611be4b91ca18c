"""Hostile-input robustness: seeded byte mutations of real documents must
never raise out of extract_payload_text (row-level tolerance contract) and
must never take pathologically long (the corrupt-input guards — cycle
checks, chain caps, no-progress advances — are load-bearing at 10^12 scale).
"""

from __future__ import annotations

import glob
import os
import time

import numpy as np
import pytest

from b2xtranslator_spark.extractors import extract_payload_text

SAMPLES = sorted(glob.glob("/root/reference/samples/*.doc"))


@pytest.mark.skipif(not SAMPLES, reason="reference corpus unavailable")
def test_mutated_documents_never_raise_and_stay_bounded():
    rng = np.random.default_rng(1234)
    docs = SAMPLES[:: max(1, len(SAMPLES) // 25)]  # ~25 spread across corpus
    worst = 0.0
    for path in docs:
        payload = bytearray(open(path, "rb").read())
        for _ in range(8):
            mutated = bytearray(payload)
            n_flips = int(rng.integers(1, 50))
            idx = rng.integers(0, len(mutated), size=n_flips)
            vals = rng.integers(0, 256, size=n_flips)
            for i, v in zip(idx, vals):
                mutated[i] = v
            t0 = time.perf_counter()
            res = extract_payload_text(bytes(mutated))
            dt = time.perf_counter() - t0
            worst = max(worst, dt)
            assert res.status in ("ok", "encrypted", "parse_error", "unsupported", "timeout")
            assert dt < 10, f"mutation of {os.path.basename(path)} took {dt:.1f}s"
    # corpus-scale sanity: no mutation should stall a partition
    assert worst < 10


@pytest.mark.skipif(not SAMPLES, reason="reference corpus unavailable")
def test_truncated_documents_never_raise():
    rng = np.random.default_rng(99)
    for path in SAMPLES[:: max(1, len(SAMPLES) // 15)]:
        payload = open(path, "rb").read()
        for frac in (0.01, 0.1, 0.5, 0.9):
            cut = max(1, int(len(payload) * frac))
            res = extract_payload_text(payload[:cut])
            assert res.status in ("ok", "encrypted", "parse_error", "unsupported", "timeout")
        # random small garbage
        res = extract_payload_text(bytes(rng.integers(0, 256, size=700, dtype=np.uint8)))
        assert res.status in ("parse_error", "unsupported")


def _docgen_word_layouts():
    """(layout, payload, data_at, data_len): seeded Word documents from
    perfbench's generator in four CFB layouts (text in the mini-stream,
    one FAT sector, several FAT sectors, 131 FAT sectors plus a DIFAT
    sector), each with the file span of its Data stream, the padding no
    text refers to (length 0 when there is none)."""
    import struct

    from perfbench.docgen import make_doc, plan_text

    rng = np.random.default_rng(4242)
    layouts = (
        ("mini-stream", 300, 0, 1, 0),
        ("one-fat", 3000, 0, 1, 0),
        ("multi-fat", 3000, 150_000, 3, 0),
        ("difat", 3000, 8_500_000, 131, 1),
    )
    for layout, chars, pad_to, n_fat, n_difat in layouts:
        payload, _ = make_doc(plan_text(rng, chars, 0.5), rng, pad_to)
        assert struct.unpack_from("<I", payload, 0x2C)[0] == n_fat, layout
        assert struct.unpack_from("<I", payload, 0x48)[0] == n_difat, layout
        data_at = data_len = 0
        dir_at = 512 * (1 + struct.unpack_from("<I", payload, 0x30)[0])
        for e in range(dir_at, dir_at + 512, 128):
            name_len = struct.unpack_from("<H", payload, e + 64)[0]
            if payload[e : e + name_len - 2] == "Data".encode("utf-16-le"):
                start, data_len = struct.unpack_from("<IQ", payload, e + 116)
                data_at = 512 * (1 + start)
        yield layout, payload, data_at, data_len


def test_mutated_docgen_word_layouts_never_raise_and_stay_bounded():
    """The Word leg's soak without the reference corpus: seeded byte flips
    and truncations of generated .doc files in every CFB layout, aimed at
    the header, the FAT and DIFAT sectors, the directory and the text
    streams (never at the Data padding, which nothing reads)."""
    rng = np.random.default_rng(2024)
    for layout, payload, data_at, data_len in _docgen_word_layouts():

        def aim(offsets):
            # offsets into the file with the Data span cut out
            offsets[offsets >= data_at] += data_len
            return offsets

        cases = []
        for _ in range(10):
            n_flips = int(rng.integers(1, 50))
            idx = aim(rng.integers(0, len(payload) - data_len, size=n_flips))
            mutated = bytearray(payload)
            for i, v in zip(idx, rng.integers(0, 256, size=n_flips)):
                mutated[i] = v
            cases.append(bytes(mutated))
        for cut in aim(rng.integers(1, len(payload) - data_len, size=4)):
            cases.append(payload[:cut])
        for case in cases:
            t0 = time.perf_counter()
            res = extract_payload_text(case)
            dt = time.perf_counter() - t0
            assert res.status in ("ok", "encrypted", "parse_error", "unsupported", "timeout")
            assert dt < 10, f"{layout} mutation took {dt:.1f}s"


def test_mutated_lzw_pdf_streams_never_raise_and_stay_bounded():
    """LZW-filtered PDF content streams under seeded byte flips must stay
    inside the row-tolerance contract (decode salvages a prefix or the
    text machine sees garbage — never an exception, never a stall)."""
    from tests.test_pdf import _lzw_encode, _one_page

    rng = np.random.default_rng(777)
    ops = (b"BT (fuzz seed text for the lzw soak) Tj ET\n" * 40)
    enc = _lzw_encode(ops)
    base = _one_page(enc, length=b"%d" % len(enc))
    base = base.replace(b"/Length", b"/Filter/LZWDecode/Length", 1)
    for _ in range(200):
        mutated = bytearray(base)
        n_flips = int(rng.integers(1, 30))
        idx = rng.integers(0, len(mutated), size=n_flips)
        vals = rng.integers(0, 256, size=n_flips)
        for i, v in zip(idx, vals):
            mutated[i] = v
        t0 = time.perf_counter()
        res = extract_payload_text(bytes(mutated))
        dt = time.perf_counter() - t0
        assert res.status in ("ok", "parse_error", "unsupported", "timeout")
        assert dt < 10


# -- RTF / OOXML hostile edge classes (VERDICT r04 next-round #6) -------------
# The bulk 2,100+ mutation soak for these legs is a driver-side sweep
# recorded in FIXTURES.md; these in-tree cases pin the specific corrupt
# shapes the verdict called out so they stay covered per CI pass.


def _rtf_rich() -> bytes:
    """Feature-dense RTF exercising fields, \\u escapes, \\upr pairs,
    destinations, and \\bin — the surfaces whose state machines have
    group-scoped state worth corrupting."""
    return (
        rb"{\rtf1\ansi\ansicpg1252\uc1 "
        rb"plain {\b bold} \u233?e caf\'e9 "
        rb"{\field{\*\fldinst HYPERLINK "
        rb'"http://ex.example/a"}{\fldrslt caf\u233?e}} '
        rb"{\upr{ansi ver}{\*\ud{unicode ver \u" + b"8364?}}} "
        rb"{\*\shppict{\pict\bin10 0123456789}} "
        rb"{\shp{\*\shptxt boxed \u955? text}} "
        rb"deep" + b"{" * 40 + b"x" + b"}" * 40 + rb"\par tail}"
    )


def test_rtf_truncated_groups_never_raise():
    base = _rtf_rich()
    for cut in range(1, len(base), 7):
        res = extract_payload_text(base[:cut])
        assert res.status in ("ok", "parse_error", "unsupported", "timeout")


def test_rtf_lying_bin_counts_never_raise_or_stall():
    # \binN claiming more raw bytes than exist, negative, absurd, and
    # nested-inside-a-group variants must not stall or raise
    shapes = [
        rb"{\rtf1 a{\pict\bin999999999 xx}b}",
        rb"{\rtf1 a{\pict\bin-5 xx}b}",
        rb"{\rtf1 a{\pict\bin2147483647 }b}",
        rb"{\rtf1 {\pict\bin16 0123{\bin8 abcdefgh}}tail}",
        rb"{\rtf1 \bin" + b"9" * 40 + rb" x}",
    ]
    for doc in shapes:
        t0 = time.perf_counter()
        res = extract_payload_text(doc)
        assert time.perf_counter() - t0 < 10
        assert res.status in ("ok", "parse_error", "unsupported", "timeout")


def test_ooxml_zip_crc_lies_never_raise():
    """Flip bytes inside member data while leaving the central directory
    intact (CRC now lies), and separately corrupt the central-directory
    CRC fields themselves — both must degrade to row status."""
    from tests.test_ooxml import DOCX_BODY, DOCX_RELS, make_docx

    base = bytearray(make_docx(DOCX_BODY, DOCX_RELS))
    rng = np.random.default_rng(20260817)
    # locate central directory (EOCD signature) to aim flips
    eocd = bytes(base).rfind(b"PK\x05\x06")
    cd_off = int.from_bytes(base[eocd + 16 : eocd + 20], "little")
    for region in ((30, cd_off), (cd_off, eocd)):
        lo, hi = region
        for _ in range(80):
            mutated = bytearray(base)
            idx = rng.integers(lo, max(lo + 1, hi), size=6)
            for i in idx:
                mutated[int(i)] ^= 0xFF
            t0 = time.perf_counter()
            res = extract_payload_text(bytes(mutated))
            assert time.perf_counter() - t0 < 10
            assert res.status in ("ok", "parse_error", "unsupported", "timeout")


def test_ooxml_expat_edge_cases_never_raise():
    """XML shapes that push expat: unclosed tags, illegal control chars,
    entity bombs (expat's default DTD refusal must surface as status),
    mismatched namespaces, UTF-16 payload with UTF-8 declaration."""
    from tests.test_ooxml import _zip

    bodies = [
        b"<w:document><w:body><w:p><w:r><w:t>unclosed",
        b"<?xml version='1.0'?><w:document xmlns:w='x'><w:body>\x01\x02</w:body></w:document>",
        (
            b"<?xml version='1.0'?><!DOCTYPE d [<!ENTITY a 'aaaa'>"
            b"<!ENTITY b '&a;&a;&a;&a;'>]><d>&b;</d>"
        ),
        b"<w:document xmlns:w='ns1'></other:document>",
        "<?xml version='1.0' encoding='utf-8'?><d>ok</d>".encode("utf-16-le"),
        b"\xef\xbb\xbf<d>bom</d>" + b"\x00" * 10,
    ]
    for body in bodies:
        payload = _zip(
            {
                "[Content_Types].xml": "<Types/>",
                "word/document.xml": body,
            }
        )
        t0 = time.perf_counter()
        res = extract_payload_text(payload)
        assert time.perf_counter() - t0 < 10
        assert res.status in ("ok", "parse_error", "unsupported", "timeout")
