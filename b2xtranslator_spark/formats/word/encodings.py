"""Code-page decoding + mojibake-repair heuristics for Word text pieces.

Behavioral re-implementation of the reference's encoding handling
(/root/reference/Doc/DocFileFormat/PieceTable.cs:262-611):

- single-byte decode tables with .NET semantics (undefined cp125x bytes decode
  to the same-valued C1 control char instead of raising),
- UTF-16LE decode with .NET's odd-length behavior (trailing U+FFFD),
- encoding resolution from DOP cpgText -> FIB lid -> FIB lidFE -> cp1252,
- narrow repair heuristics: MacRoman smart-punctuation mismatch, Western
  mojibake that is really cp1251 Cyrillic, UTF-8-in-cp1252 mojibake, and the
  cp1250 embedded-r-caron case.

Decoding is vectorized via ``codecs.charmap_decode`` over 256-char tables (the
C fast path) — no per-byte Python in the hot loop.
"""

from __future__ import annotations

import codecs
import re
from functools import lru_cache

_CODEPAGE_TO_CODEC = {
    437: "cp437",
    850: "cp850",
    852: "cp852",
    866: "cp866",
    874: "cp874",
    1250: "cp1250",
    1251: "cp1251",
    1252: "cp1252",
    1253: "cp1253",
    1254: "cp1254",
    1255: "cp1255",
    1256: "cp1256",
    1257: "cp1257",
    1258: "cp1258",
    10000: "mac_roman",
    28591: "latin_1",
}

# LCID primary-language -> ANSI code page (public Windows locale data; stands
# in for .NET CultureInfo(lcid).TextInfo.ANSICodePage used at
# PieceTable.cs:316-334). CJK pages are multi-byte -> excluded, like the
# reference's IsSingleByte check.
_PRIMARY_LANG_TO_ANSI = {
    0x01: 1256, 0x02: 1251, 0x05: 1250, 0x06: 1252, 0x07: 1252, 0x08: 1253,
    0x09: 1252, 0x0A: 1252, 0x0B: 1252, 0x0C: 1252, 0x0D: 1255, 0x0E: 1250,
    0x0F: 1252, 0x10: 1252, 0x13: 1252, 0x14: 1252, 0x15: 1250, 0x16: 1252,
    0x18: 1250, 0x19: 1251, 0x1A: 1250, 0x1B: 1250, 0x1C: 1250, 0x1D: 1252,
    0x1E: 874, 0x1F: 1254, 0x20: 1256, 0x21: 1252, 0x22: 1251, 0x23: 1251,
    0x24: 1250, 0x25: 1257, 0x26: 1257, 0x27: 1257, 0x29: 1256, 0x2A: 1258,
    0x2C: 1254, 0x2F: 1251, 0x36: 1252, 0x38: 1252, 0x3E: 1252, 0x3F: 1251,
    0x43: 1254,
}

UNICODE = -1  # sentinel code page for UTF-16LE pieces


@lru_cache(maxsize=None)
def _table(codec: str) -> str:
    """256-entry decode table; undefined bytes map to chr(byte) (.NET-style)."""
    out = []
    for b in range(256):
        try:
            out.append(bytes([b]).decode(codec))
        except UnicodeDecodeError:
            out.append(chr(b))
    return "".join(out)


def decode_single_byte(data: bytes, codepage: int) -> str:
    codec = _CODEPAGE_TO_CODEC.get(codepage)
    if codec is None:
        return ""
    return codecs.charmap_decode(data, "strict", _table(codec))[0]


def decode_utf16le(data: bytes) -> str:
    """UTF-16LE with .NET's odd-length behavior: decode pairs, append U+FFFD
    for a dangling byte (Encoding.Unicode.GetString)."""
    n = len(data)
    even = n & ~1
    text = data[:even].decode("utf-16-le", errors="replace")
    if n != even:
        text += "�"
    return text


def decode_ascii(data: bytes) -> str:
    """.NET Encoding.ASCII: bytes > 0x7F decode to '?'."""
    return bytes(b if b < 0x80 else 0x3F for b in data).decode("ascii")


def try_single_byte_codepage(codepage: int) -> int | None:
    return codepage if codepage in _CODEPAGE_TO_CODEC else None


def resolve_single_byte_codepage(
    lid: int, lid_fe: int, cpg_text: int
) -> int:
    """PieceTable.ResolveSingleByteEncoding (PieceTable.cs:262-283)."""
    if cpg_text and try_single_byte_codepage(cpg_text):
        return cpg_text
    for lcid in (lid, lid_fe & 0xFFFF):
        if lcid in (0, 0x0400):
            continue
        cp = _PRIMARY_LANG_TO_ANSI.get(lcid & 0x3FF)
        if cp is not None and cp in _CODEPAGE_TO_CODEC:
            return cp
    return 1252


# -- mojibake heuristics (PieceTable.cs:389-611) -----------------------------
#
# A single-byte decode yields exactly one character per byte, so "how many
# characters of the decoded text fall in class X" equals "how many bytes map
# to a class-X character", which bytes.translate counts at C speed against a
# 256-entry table built once per (code page, class).

_CHAR_CLASSES = {
    # Latin-1-supplement letters: U+00C0-U+00FF minus the non-letters × and ÷
    "supp_letter": lambda c: "\u00c0" <= c <= "\u00ff" and c not in "\u00d7\u00f7",
    "letter": str.isalpha,
    "ascii_letter": lambda c: c.isascii() and c.isalpha(),
    "cyrillic_letter": lambda c: "\u0400" <= c <= "\u04ff" and c.isalpha(),
}


@lru_cache(maxsize=None)
def _reject(codepage: int, cls: str) -> bytes:
    """Bytes whose `codepage` character is NOT in `cls` (translate's delete
    argument)."""
    table = _table(_CODEPAGE_TO_CODEC[codepage])
    pred = _CHAR_CLASSES[cls]
    return bytes(b for b in range(256) if not pred(table[b]))


def _count_class(data: bytes, codepage: int, cls: str) -> int:
    """Characters of decode_single_byte(data, codepage) in class `cls`."""
    return len(data.translate(None, _reject(codepage, cls)))


_SMART_PUNCT = "‘’“”–—…"
_SUSPICIOUS_MAC = "ëíìîñó"


@lru_cache(maxsize=None)
def _mac_mismatch_reject() -> bytes:
    """Bytes that are NOT cp1252 smart punctuation read as a suspicious
    MacRoman letter. Both readings come from the same byte, so the
    per-position comparison of PieceTable.cs reduces to a byte set."""
    mac, win = _table("mac_roman"), _table("cp1252")
    return bytes(
        b for b in range(256)
        if not (win[b] in _SMART_PUNCT and mac[b] in _SUSPICIOUS_MAC)
    )


def _looks_like_mac_smart_punct_mismatch(data: bytes) -> bool:
    return bool(data.translate(None, _mac_mismatch_reject()))


_UTF8_MOJIBAKE_RE = re.compile("[\u00c3\u00c2\u00e2](?=[\u0080-\u00bf\u20ac\u2122])")
_LATIN_EXT_RE = re.compile("[\u00c0-\u024f]")


def _looks_like_western_mojibake_for_cyrillic(data: bytes, codepage: int) -> bool:
    """Would the cp1251 reading of these `codepage` bytes be the real text?
    (PieceTable.cs:520-536)"""
    if _count_class(data, codepage, "supp_letter") < 6:
        return False
    western_letters = _count_class(data, codepage, "letter")
    if western_letters < 6:
        return False
    ascii_letters = _count_class(data, codepage, "ascii_letter")
    cyr_letters = _count_class(data, 1251, "cyrillic_letter")
    return (
        ascii_letters <= max(1, western_letters // 5)
        and cyr_letters * 10 >= western_letters * 7
    )


def _count_utf8_mojibake(text: str) -> int:
    # lookahead class = 0x80-0xBF continuation range plus the euro/tm signs
    # (PieceTable.cs:556-575); regex keeps this off the per-char Python path
    return len(_UTF8_MOJIBAKE_RE.findall(text))


def _looks_like_utf8_mojibake(single_byte_text: str, utf8_text: str) -> bool:
    if not utf8_text or single_byte_text == utf8_text:
        return False
    before = _count_utf8_mojibake(single_byte_text)
    if before < 2:
        return False
    if _count_utf8_mojibake(utf8_text) >= before:
        return False
    latin_supp = sum(1 for c in _LATIN_EXT_RE.findall(utf8_text) if c.isalpha())
    return latin_supp >= min(2, before)


def _has_embedded_char(text: str, lower: str, upper: str) -> bool:
    if lower not in text and upper not in text:
        return False
    for i, c in enumerate(text):
        if c != lower and c != upper:
            continue
        if (
            i > 0
            and text[i - 1].isalpha()
            and i + 1 < len(text)
            and text[i + 1].isalpha()
        ):
            return True
    return False


def decode_piece(data: bytes, codepage: int) -> str:
    """Decode one piece's bytes with the reference's repair heuristics
    (PieceTable.DecodeChars, PieceTable.cs:389-433)."""
    if codepage == UNICODE:
        return decode_utf16le(data)
    if codepage == 10000 and _looks_like_mac_smart_punct_mismatch(data):
        return decode_single_byte(data, 1252)
    if codepage in (1252, 28591) and _looks_like_western_mojibake_for_cyrillic(
        data, codepage
    ):
        text = decode_single_byte(data, 1251)
    else:
        text = decode_single_byte(data, codepage)
        # the UTF-8 candidate is only decoded when >=2 mojibake lead bytes
        # are present (skips work on the overwhelmingly-common clean path)
        if codepage in (1252, 28591) and _count_utf8_mojibake(text) >= 2:
            try:
                utf8_text = data.decode("utf-8")
            except UnicodeDecodeError:
                utf8_text = ""
            if _looks_like_utf8_mojibake(text, utf8_text):
                text = utf8_text
    if codepage in (1252, 28591) and _has_embedded_char(text, "ø", "Ø"):
        central = decode_single_byte(data, 1250)
        if _has_embedded_char(central, "ř", "Ř"):
            text = central
    return text
