"""In-memory spans around the program's public calls.

Spans are recorded from the benchmark's side only: driver-side calls are
wrapped with ``Tracer.span``, and for the in-process replay of
``pipeline.extract_turns`` the entry points below are temporarily replaced
by timing wrappers (``instrument``), then restored.
"""

from __future__ import annotations

import base64
import json
import time
from contextlib import contextmanager
from pathlib import Path
from types import SimpleNamespace

# extractors-module name -> layer of the format it dispatches to
FORMAT_ENTRIES = {
    "extract_doc_text_parts": "word",
    "extract_xls_text_parts": "xls",
    "extract_ppt_text_parts": "ppt",
    "extract_html_parts": "markup",
    "extract_pdf_parts": "pdf",
    "extract_rtf_parts": "rtf",
    "extract_docx_parts": "ooxml",
    "extract_xlsx_parts": "ooxml",
    "extract_pptx_parts": "ooxml",
    "extract_odt_parts": "odf",
    "extract_ods_parts": "odf",
    "extract_odp_parts": "odf",
    "extract_epub_parts": "epub",
    "extract_eml_parts": "eml",
    "extract_text_parts": "plaintext",
}
FORMATS = ("cfb", "word", "xls", "ppt", "markup", "pdf", "rtf", "ooxml", "odf",
           "epub", "eml", "plaintext")
# ExtractResult.kind -> format layer (for payload megabytes)
KIND_FORMAT = {"doc": "word", "xls": "xls", "ppt": "ppt", "html": "markup",
               "pdf": "pdf", "rtf": "rtf", "docx": "ooxml", "xlsx": "ooxml",
               "pptx": "ooxml", "odt": "odf", "ods": "odf", "odp": "odf",
               "epub": "epub", "eml": "eml", "text": "plaintext"}


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.trace_id = 0

    def _open(self, name: str) -> dict:
        span = {"name": name, "trace": self.trace_id,
                "parent": self._stack[-1] if self._stack else None,
                "start": time.perf_counter(), "end": None, "error": False}
        self.spans.append(span)
        self._stack.append(len(self.spans) - 1)
        return span

    def _close(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        self._stack.pop()

    @contextmanager
    def span(self, name: str):
        s = self._open(name)
        try:
            yield s
        except BaseException:
            s["error"] = True
            raise
        finally:
            self._close(s)

    def wrap(self, fn, name: str):
        def traced(*args, **kwargs):
            s = self._open(name)
            try:
                out = fn(*args, **kwargs)
            except BaseException:
                s["error"] = True
                raise
            finally:
                self._close(s)
            if isinstance(out, tuple) and out and isinstance(out[0], str):
                s["chars"] = len(out[0])
            elif hasattr(out, "kind"):
                s["kind"], s["status"] = out.kind, out.status
            if args and isinstance(args[0], (bytes, bytearray)):
                s["bytes"] = len(args[0])
            elif len(args) > 1 and isinstance(args[1], (bytes, bytearray)):
                s["bytes"] = len(args[1])
            return out

        return traced

    def self_times(self) -> list[float]:
        """Duration minus the time covered by direct children; children
        nest and never overlap (one thread)."""
        own = [s["end"] - s["start"] for s in self.spans]
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= s["end"] - s["start"]
        return own

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans))


@contextmanager
def instrument(tracer: Tracer):
    """Wrap the replay's layer entry points for the duration of the block."""
    import b2xtranslator_spark.extractors as ex
    import b2xtranslator_spark.pipeline as pl
    from b2xtranslator_spark.formats import cfb
    from b2xtranslator_spark.formats.word import extract as word_extract

    saved = []

    def patch(owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)
        saved.append((owner, attr, orig))
        setattr(owner, attr, tracer.wrap(orig, name))

    patch(ex, "extract_payload_text", "extractors.extract_payload_text")
    for attr, fmt in FORMAT_ENTRIES.items():
        patch(ex, attr, f"formats.{fmt}")
    patch(cfb.CompoundFile, "__init__", "formats.cfb.open")
    patch(cfb.CompoundFile, "get_stream", "formats.cfb.get_stream")
    patch(word_extract, "WordBinaryDocument", "formats.word.parse")
    saved.append((pl, "base64", pl.base64))
    pl.base64 = SimpleNamespace(
        b64decode=tracer.wrap(base64.b64decode, "pipeline.b64"))
    try:
        yield
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)


def replay_metrics(tracer: Tracer, first: int) -> dict[str, float]:
    """Per-layer figures from the replay spans recorded since index `first`."""
    spans = tracer.spans[first:]
    own = tracer.self_times()[first:]

    def total(pred, values) -> float:
        return sum(v for s, v in zip(spans, values) if pred(s["name"]))

    dur = [s["end"] - s["start"] for s in spans]
    m: dict[str, float] = {}
    m["pipeline.kernel_self_s"] = total(lambda n: n.startswith("pipeline."), own)
    m["pipeline.b64_s"] = total(lambda n: n == "pipeline.b64", dur)
    ext = [s for s in spans if s["name"] == "extractors.extract_payload_text"]
    m["extractors.calls"] = len(ext)
    m["extractors.s"] = total(lambda n: n == "extractors.extract_payload_text", dur)
    m["extractors.self_s"] = total(lambda n: n == "extractors.extract_payload_text", own)
    mb = {f: 0.0 for f in FORMATS}
    for s in ext:
        fmt = KIND_FORMAT.get(s.get("kind"))
        if fmt:
            mb[fmt] += s.get("bytes", 0) / 1e6
    for fmt in FORMATS:
        entry = "formats.cfb.open" if fmt == "cfb" else f"formats.{fmt}"
        layer = f"formats.{fmt}"
        m[f"{layer}.calls"] = sum(1 for s in spans if s["name"] == entry)
        m[f"{layer}.s"] = total(lambda n: n == layer or n.startswith(layer + "."), own)
        m[f"{layer}.errors"] = sum(1 for s in spans if s["name"] == entry and s["error"])
        m[f"{layer}.mb"] = mb[fmt]
    m["formats.cfb.mb"] = sum(s.get("bytes", 0) for s in spans
                              if s["name"] == "formats.cfb.open") / 1e6
    m["formats.word.parse_s"] = total(lambda n: n == "formats.word.parse", own)
    m["formats.word.map_s"] = total(lambda n: n == "formats.word", own)
    chars = sum(s.get("chars", 0) for s in spans if s["name"] == "formats.word")
    m["formats.word.chars_per_s"] = chars / m["formats.word.s"] if m["formats.word.s"] else 0.0
    return m
