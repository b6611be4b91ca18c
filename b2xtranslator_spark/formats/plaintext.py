"""Plain text / markdown payloads -> text, plus gzip payload unwrapping.

The most common "document" in a real corpus is not a container format at
all: a .txt/.md/.rst/source file, often shipped .gz-compressed. Two tiny
kernels close that gap:

- `extract_text_parts`: BOM-aware decode (UTF-8-sig / UTF-16 LE/BE) with
  strict-UTF-8 then latin-1 fallback, newline normalization, and the
  repo's trailing-newline trim. Markdown passes through verbatim (its
  markup IS content — the training-data convention; the html leg exists
  for rendered markup).
- `looks_like_text`: conservative sniff, LAST in the dispatch chain —
  only claims payloads whose head is NUL-free and decodes strictly as
  UTF-8 (or carries a text BOM) with a minimum letter ratio, so binary
  garbage keeps flowing to the CFB magic error path the hostile-input
  contract depends on.
- `maybe_gunzip`: single-document gzip/bzip2/xz transparently unwrapped,
  charged to the decode budget, before dispatch — `page.html.gz` and
  `notes.txt.gz` extract like their uncompressed twins. One level only
  (a .gz inside a .gz is hostile, not a corpus).
"""

from __future__ import annotations

import bz2
import codecs
import gzip
import io
import lzma
import zlib

from .. import budget

__all__ = ["extract_text_parts", "looks_like_text", "maybe_gunzip"]

_MIN_LETTER_RATIO = 0.30


# magic -> (reader, data) for budget.inflate: GzipFile joins every member
# as gunzip does; bz2 and xz decode their first stream only
_CODECS = (
    (b"\x1f\x8b", lambda p: (gzip.GzipFile(fileobj=io.BytesIO(p)), None)),
    (b"BZh", lambda p: (bz2.BZ2Decompressor(), p)),
    (b"\xfd7zXZ\x00", lambda p: (lzma.LZMADecompressor(), p)),
)


def maybe_gunzip(payload: bytes) -> bytes:
    """payload, decompressed once if wrapped in a stdlib-supported
    compression container (gzip, bzip2 or xz), charged to the document's
    decoded-byte allowance (past it, ``budget.PayloadOversize``); the
    original bytes on any decode failure (the CFB error path then
    reports). One level only: a compressed file inside a compressed file
    is hostile, not a corpus."""
    for magic, open_reader in _CODECS:
        if payload.startswith(magic):
            try:
                data = budget.inflate(*open_reader(payload))
            except (OSError, EOFError, zlib.error, lzma.LZMAError):
                return payload
            return data if data else payload
    return payload


def looks_like_text(payload: bytes) -> bool:
    if not payload:
        return False
    if payload.startswith((codecs.BOM_UTF8, codecs.BOM_UTF16_LE, codecs.BOM_UTF16_BE)):
        return True
    head = payload[:4096]
    if b"\x00" in head:
        return False
    try:
        decoded = head.decode("utf-8")
    except UnicodeDecodeError as exc:
        # a 4096-byte window may cut a multibyte char at its edge; only
        # an error in the last 3 bytes is that boundary artifact —
        # anywhere earlier means genuinely non-UTF-8 bytes (stay strict:
        # lossy decode here would let binary-ish files claim the sniff)
        if len(payload) > 4096 and exc.start >= len(head) - 3:
            decoded = head[: exc.start].decode("utf-8", "ignore")
        else:
            return False
    if not decoded:
        return False
    letters = sum(1 for ch in decoded if ch.isalpha() or ch in " \n\t")
    return letters / len(decoded) >= _MIN_LETTER_RATIO


def extract_text_parts(payload: bytes) -> tuple[str, int, list[tuple[str, int, int]]]:
    """(text, lines_decoded, spans). Identity modulo encoding: BOM decode,
    CRLF/CR -> LF, trailing newlines trimmed; spans tile per line."""
    from .ooxml import _tiled_spans

    if payload.startswith(codecs.BOM_UTF16_LE) or payload.startswith(
        codecs.BOM_UTF16_BE
    ):
        # BOM selects the order; 'replace' matches the UTF-8-sig branch
        # (ADVICE r05: a truncated/odd-length UTF-16 payload that claimed
        # the sniff must degrade to replacement chars, not raise into the
        # parse_error path — the module's never-raise convention)
        text = payload.decode("utf-16", "replace")
    elif payload.startswith(codecs.BOM_UTF8):
        text = payload.decode("utf-8-sig", "replace")
    else:
        try:
            text = payload.decode("utf-8")
        except UnicodeDecodeError:
            text = payload.decode("latin-1")
    text = text.replace("\r\n", "\n").replace("\r", "\n").rstrip("\n")
    return text, text.count("\n") + 1 if text else 0, _tiled_spans(text, "line")
