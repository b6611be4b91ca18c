"""Golden-file parity for the XLS/PPT paths over synthetic CFB fixtures.

The reference corpus has no .xls/.ppt samples, so these fixtures (crafted
byte-by-byte against the public [MS-XLS]/[MS-PPT]/[MS-CFB] specs, with
hand-declared expected text) are the golden suite for those formats —
analogous to tests/test_doc_fixtures.py for .doc.
"""

from __future__ import annotations

import struct

import numpy as np

from b2xtranslator_spark.sources.binfixtures import (
    _bof,
    _rec,
    build_ppt_fixture,
    build_ppt_incremental_fixture,
    build_xls_fixture,
)
from b2xtranslator_spark.extractors import extract_payload_text
from b2xtranslator_spark.formats.cfb import CompoundFile
from perfbench.docgen import write_cfb


def build_xls_shared_formula_fixture() -> tuple[bytes, str]:
    """BIFF8 workbook proving the ShrFmla / Date1904 parity residue
    (VERDICT r03 #7): a shared-formula group — first Formula record (with
    the fShrFmla grbit) followed by the ShrFmla definition record
    [MS-XLS 2.4.277], then follower Formula records — where every cell's
    CACHED result is emitted from its own Formula record, the ShrFmla
    definition itself is text-neutral (skip-by-length), and the 1904
    date-system flag (Date1904 [MS-XLS 2.4.77]) does not alter raw
    numeric output. The reference's extractor behaves identically: it
    reads cached results per Formula and applies no date formatting
    (WorksheetExtractor.cs:48-255)."""
    # ShrFmla: RefU range rows 0-2 col 0, reserved, cUse=3, cce=5, rgce
    shr_payload = (
        struct.pack("<HHBB", 0, 2, 0, 0) + b"\x00" + b"\x03"
        + struct.pack("<H", 5) + b"\x1e\x2a\x00\x1e"  # dummy parsed-expr bytes
    )

    def formula_num(rw: int, col: int, value: float, shared: bool) -> bytes:
        grbit = 0x0008 if shared else 0x0000  # fShrFmla
        return _rec(
            0x0006,
            struct.pack("<HHH", rw, col, 0)
            + struct.pack("<d", value)
            + struct.pack("<HIH", grbit, 0, 0),
        )

    sheet = (
        _bof(0x0010)
        + formula_num(0, 0, 10.5, shared=True)   # group leader, cached 10.5
        + _rec(0x04BC, shr_payload)              # ShrFmla definition (neutral)
        + formula_num(1, 0, 20.5, shared=True)   # followers: own cached values
        + formula_num(2, 0, 30.5, shared=True)
        # a 1904-era serial date stays a raw number in text output
        + _rec(0x0203, struct.pack("<HHHd", 3, 0, 0, 366.0))
        + _rec(0x000A, b"")
    )

    def globals_block(pos: int) -> bytes:
        return (
            _bof(0x0005)
            + _rec(0x0022, struct.pack("<H", 1))  # Date1904: f1904 = 1
            + _rec(
                0x0085,
                struct.pack("<IBB", pos, 0, 0) + bytes([6, 0x00]) + b"Shared",
            )
            + _rec(0x000A, b"")
        )

    glb = globals_block(0)
    workbook = globals_block(len(glb)) + sheet
    expected = "\n".join(["Shared", "10.5", "20.5", "30.5", "366"])
    return write_cfb([("Workbook", workbook)]), expected


def _both_layouts(payload: bytes, *names: str) -> list[bytes]:
    """A fixture as built (its short streams in the mini-stream) and
    re-wrapped with each named stream padded to the 4096-byte cutoff, so
    the streams sit in normal FAT sectors; trailing zeros are inert for
    the BIFF and PPT record walks."""
    cf = CompoundFile(payload)
    return [
        payload,
        write_cfb([(n, cf.get_stream(n).ljust(4096, b"\0")) for n in names]),
    ]


def test_xls_fixture_parity():
    payload, expected = build_xls_fixture()
    for data in _both_layouts(payload, "Workbook"):
        res = extract_payload_text(data)
        assert res.status == "ok", res.error
        assert res.kind == "xls"
        assert res.text == expected


def test_xls_shared_formula_and_1904_parity():
    """VERDICT r03 #7: shared-formula cached results come from each cell's
    own Formula record (the ShrFmla definition is text-neutral), and the
    Date1904 flag does not change raw numeric output — matching the
    reference extractor, which ignores both."""
    payload, expected = build_xls_shared_formula_fixture()
    res = extract_payload_text(payload)
    assert res.status == "ok", res.error
    assert res.kind == "xls"
    assert res.text == expected


def test_ppt_fixture_parity():
    payload, expected = build_ppt_fixture()
    for data in _both_layouts(payload, "Current User", "PowerPoint Document"):
        res = extract_payload_text(data)
        assert res.status == "ok", res.error
        assert res.kind == "ppt"
        assert res.text == expected


def test_ppt_incremental_save_last_edit_wins():
    payload, expected = build_ppt_incremental_fixture()
    for data in _both_layouts(payload, "Current User", "PowerPoint Document"):
        res = extract_payload_text(data)
        assert res.status == "ok", res.error
        assert res.text == expected


def test_fixtures_survive_mutation_fuzz():
    """The synthetic fixtures join the hostile-input corpus: seeded byte
    flips must never raise and never stall."""
    import time

    rng = np.random.default_rng(77)
    for payload, _ in (build_xls_fixture(), build_xls_shared_formula_fixture(), build_ppt_fixture()):
        buf = bytearray(payload)
        for _ in range(40):
            mutated = bytearray(buf)
            idx = rng.integers(0, len(mutated), size=int(rng.integers(1, 30)))
            vals = rng.integers(0, 256, size=len(idx))
            for i, v in zip(idx, vals):
                mutated[i] = v
            t0 = time.perf_counter()
            res = extract_payload_text(bytes(mutated))
            assert time.perf_counter() - t0 < 10
            assert res.status in (
                "ok", "encrypted", "parse_error", "unsupported", "timeout"
            )


def test_truncated_fixtures_never_raise():
    for payload, _ in (build_xls_fixture(), build_xls_shared_formula_fixture(), build_ppt_fixture()):
        for frac in (0.02, 0.3, 0.7, 0.95):
            res = extract_payload_text(payload[: max(1, int(len(payload) * frac))])
            assert res.status in (
                "ok", "encrypted", "parse_error", "unsupported", "timeout"
            )
