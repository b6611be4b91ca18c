"""Per-document limits for hostile-input robustness: a wall-clock budget and
a size cap (MAX_PAYLOAD_BYTES, below) on the bytes a document decodes.

At 10^12-turn scale a single unbounded document is a stuck partition: the
reference survives hostile files with iteration guards, but a fuzzed piece
table / FKP can still force O(n^2)-ish CP walks that stay *under* each guard
while multiplying across them (observed: 40.9s on one mutated doc). The
contract here is a hard deadline started by ``extract_payload_text`` and
consulted inside every potentially-unbounded walk loop; tripping it raises
``DocumentTimeout``, which the extractor maps to a ``status='timeout'`` row
(row-level tolerance, never a task failure). The size cap works alike:
``set_deadline`` also opens the document's allowance (outside one, each call
gets a whole cap), every expanding decoder goes through ``inflate`` or
``charge``, and ``PayloadOversize`` maps to a ``status='oversize'`` row.

A module-level deadline is safe because Spark Python workers process Arrow
batches single-threaded: only one document is ever being decoded per
interpreter at a time.
"""

from __future__ import annotations

import time

__all__ = [
    "DocumentTimeout",
    "PayloadOversize",
    "DEFAULT_BUDGET_SECONDS",
    "MAX_PAYLOAD_BYTES",
    "oversize_error",
    "set_deadline",
    "clear_deadline",
    "check_deadline",
    "charge",
    "inflate",
]


class DocumentTimeout(Exception):
    """Raised inside decode loops when the per-document budget is exhausted."""


class PayloadOversize(Exception):
    """Past the size cap. Not a ValueError, which the zip kind sniffs swallow."""


# Real corpus documents decode in single-digit milliseconds (bench: ~1ms/doc
# amortized); 5s is >1000x headroom and keeps the worst hostile input well
# under the fuzz suite's 10s bound.
DEFAULT_BUDGET_SECONDS = 5.0

# Per-document cap in decoded bytes (the payload and all it inflates): one
# multi-GB attachment, or one small bomb, must become an ``oversize`` row,
# not a Python-worker OOM. Far above any legitimate document, small enough
# that one cannot take down an executor sized for normal batches. The
# pipeline gate and the allowance read it at call time.
MAX_PAYLOAD_BYTES = 256 << 20


def oversize_error(n_bytes: int) -> str:
    return f"payload ~{n_bytes} bytes exceeds the size cap ({MAX_PAYLOAD_BYTES} bytes)"


_PIECE = 1 << 20  # inflate's read size
_DEADLINE: float | None = None
_LEFT: int | None = None  # decoded bytes the open document may still take


def set_deadline(seconds: float = DEFAULT_BUDGET_SECONDS) -> None:
    global _DEADLINE, _LEFT
    _DEADLINE = time.perf_counter() + seconds
    _LEFT = MAX_PAYLOAD_BYTES


def clear_deadline() -> None:
    global _DEADLINE, _LEFT
    _DEADLINE = _LEFT = None


def check_deadline() -> None:
    """Cheap (one perf_counter read); call once per outer-loop iteration."""
    if _DEADLINE is not None and time.perf_counter() > _DEADLINE:
        raise DocumentTimeout("document exceeded per-document wall-clock budget")


def charge(n_bytes: int) -> None:
    """Take n_bytes from the document's allowance, or raise PayloadOversize."""
    global _LEFT
    left = (MAX_PAYLOAD_BYTES if _LEFT is None else _LEFT) - n_bytes
    if left < 0:
        raise PayloadOversize(oversize_error(MAX_PAYLOAD_BYTES - left))
    if _LEFT is not None:
        _LEFT = left


def inflate(source, data: bytes | None = None, limit: int | None = None) -> bytes:
    """One charged read of at most one byte past the allowance (or ``limit``,
    a declared size): ``source.readinto`` a file, or ``source.decompress``
    ``data``. It reads in 1 MB pieces into one growing buffer, so a bomb is
    refused holding about the allowance, where one unbounded call would
    also hold the codec's output blocks (or the file's buffered copy)."""
    left = MAX_PAYLOAD_BYTES if _LEFT is None else _LEFT
    # at least 1: a max_length of 0 means "unbounded" to a decompressor
    n = max(1, left + 1 if limit is None else min(limit, left + 1))
    out = bytearray()
    piece = memoryview(bytearray(min(n, _PIECE))) if data is None else None
    while len(out) < n:
        step = min(n - len(out), _PIECE)
        if data is None:
            got = piece[: source.readinto(piece[:step])]
        elif source.eof:
            break
        else:
            got = source.decompress(data, step)
            # zlib hands back the input it did not read; bz2 and lzma keep it
            data = getattr(source, "unconsumed_tail", b"")
        if not got:
            break
        out += got
    charge(len(out))
    return bytes(out)
