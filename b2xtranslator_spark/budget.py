"""Per-document limits for hostile-input robustness: a wall-clock budget and
a payload size cap (MAX_PAYLOAD_BYTES, below).

At 10^12-turn scale a single unbounded document is a stuck partition: the
reference survives hostile files with iteration guards, but a fuzzed piece
table / FKP can still force O(n^2)-ish CP walks that stay *under* each guard
while multiplying across them (observed: 40.9s on one mutated doc). The
contract here is a hard deadline started by ``extract_payload_text`` and
consulted inside every potentially-unbounded walk loop; tripping it raises
``DocumentTimeout``, which the extractor maps to a ``status='timeout'`` row
(row-level tolerance, never a task failure).

A module-level deadline is safe because Spark Python workers process Arrow
batches single-threaded: only one document is ever being decoded per
interpreter at a time.
"""

from __future__ import annotations

import time

__all__ = [
    "DocumentTimeout",
    "DEFAULT_BUDGET_SECONDS",
    "MAX_PAYLOAD_BYTES",
    "oversize_error",
    "set_deadline",
    "clear_deadline",
    "check_deadline",
]


class DocumentTimeout(Exception):
    """Raised inside decode loops when the per-document budget is exhausted."""


# Real corpus documents decode in single-digit milliseconds (bench: ~1ms/doc
# amortized); 5s is >1000x headroom and keeps the worst hostile input well
# under the fuzz suite's 10s bound.
DEFAULT_BUDGET_SECONDS = 5.0

# Per-document payload cap in decoded bytes: at corpus scale one multi-GB
# attachment must become an ``oversize`` row, not a Python-worker OOM. Far
# above any legitimate Office binary, small enough that one document cannot
# take down an executor sized for normal batches. The pipeline gate, the
# extractor gate and the decompression bound all read it at call time.
MAX_PAYLOAD_BYTES = 256 << 20


def oversize_error(n_bytes: int) -> str:
    return f"payload ~{n_bytes} bytes exceeds the size cap ({MAX_PAYLOAD_BYTES} bytes)"

_DEADLINE: float | None = None


def set_deadline(seconds: float = DEFAULT_BUDGET_SECONDS) -> None:
    global _DEADLINE
    _DEADLINE = time.perf_counter() + seconds


def clear_deadline() -> None:
    global _DEADLINE
    _DEADLINE = None


def check_deadline() -> None:
    """Cheap (one perf_counter read); call once per outer-loop iteration."""
    if _DEADLINE is not None and time.perf_counter() > _DEADLINE:
        raise DocumentTimeout("document exceeded per-document wall-clock budget")
