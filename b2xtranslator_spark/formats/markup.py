"""HTML/markup -> plain-text extraction (main-content pipeline surface).

The north rule's markup leg: transcript payloads carry saved HTML alongside
the binary Office documents, and the pipeline must strip boilerplate and
emit the cleaned text. Pure stdlib (html.parser) so the kernel stays a
vectorized batch over Arrow like the CFB path — no external DOM library.

Text model mirrors the reference's TextWriter event fold
(/root/reference/Text/TextModel/TextWriter.cs:163-280: w:t content
accumulates, tc -> tab, tr/p -> newline): inline text accumulates into the
current block, block-level elements delimit blocks (one newline each),
table cells join with tabs inside their row's block. Whitespace inside a
block collapses to single spaces (HTML rendering semantics), except inside
<pre>.

Boilerplate strip (the "HTML boilerplate strip / DOM heuristics" of the
north rule) happens at two levels:

- STRUCTURAL: entire subtrees of non-content elements are dropped
  (script/style/head/title/nav/footer/aside/...), the standard tag-level
  boilerplate filter.
- HEURISTIC (optional, ``main_content=True``): blocks whose link density
  (chars inside <a> / total chars) exceeds a threshold are dropped — the
  classic link-density rule of boilerpipe/jusText for menus, breadcrumbs
  and related-article boxes that live inside content-shaped tags.

Deterministic by construction: no charset guessing beyond UTF-8-replace,
no layout engine, no randomness — the same bytes always yield the same
text, which is what lets the driver oracle state the expected extraction
in portable SQL.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

from ..budget import check_deadline

__all__ = ["extract_html_parts", "looks_like_markup"]

# subtrees that are never content
_DROP = {
    "script",
    "style",
    "template",
    "noscript",
    "head",
    "title",
    "meta",
    "link",
    "nav",
    "footer",
    "aside",
    "svg",
    "iframe",
    "object",
    "embed",
    "canvas",
    "button",
    "select",
    "option",
    "datalist",
}
# void elements never push drop depth (no matching end tag arrives)
_VOID = {"meta", "link", "br", "hr", "img", "input", "area", "base", "wbr"}
# elements that delimit text blocks (-> newline), mirroring the reference's
# paragraph/row event fold
_BLOCK = {
    "p",
    "div",
    "section",
    "article",
    "main",
    "header",
    "h1",
    "h2",
    "h3",
    "h4",
    "h5",
    "h6",
    "li",
    "ul",
    "ol",
    "dl",
    "dt",
    "dd",
    "table",
    "thead",
    "tbody",
    "tfoot",
    "caption",
    "blockquote",
    "pre",
    "figure",
    "figcaption",
    "address",
    "form",
    "fieldset",
    "details",
    "summary",
    "hr",
    "br",
}

_WS = re.compile(r"[ \t\n\r\f\v]+")


def _collapse(s: str) -> str:
    return _WS.sub(" ", s).strip()


class _TextFold(HTMLParser):
    """Event fold: start/end/data events -> list of (text, link_ratio)
    blocks. One pass, no DOM tree retained."""

    def __init__(self, extract_urls: bool = False) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[tuple[str, float]] = []
        self._buf: list[str] = []
        self._extract_urls = extract_urls
        self._href: str | None = None  # open anchor's target
        self._amark = 0  # _buf index where the open anchor's display starts
        self._cells: list[str] | None = None  # active (innermost) table row
        self._row_stack: list[list[str] | None] = []  # outer rows (nesting)
        # open DROP subtrees as a STACK of tag names, not a counter: an end
        # tag truncates at its last matching open (HTML5 implicit-close —
        # </select> also closes any open <option>), so unclosed implicit
        # tags can never leak depth and suppress the rest of the document
        self._drop_stack: list[str] = []
        self._pre = 0
        self._link = 0  # <a> nesting depth
        self._link_chars = 0
        self._total_chars = 0
        self.elements = 0  # decode metric (records_decoded analogue)
        self._data_since_check = 0

    # -- block bookkeeping -------------------------------------------------
    def _flush(self) -> None:
        if self._cells is not None:
            # block boundaries inside a table cell flatten to a space
            if self._buf and self._buf[-1] != " ":
                self._buf.append(" ")
            return
        raw = "".join(self._buf)
        self._buf.clear()
        self._amark = 0
        if self._pre:
            # one link-density ratio for the whole <pre> block, attached to
            # every emitted line — per-line _emit would bill the block's
            # entire link mass to the first line and zero to the rest
            total = max(self._total_chars, 1)
            ratio = min(self._link_chars / total, 1.0)
            self._link_chars = 0
            self._total_chars = 0
            for ln in raw.split("\n"):
                ln = ln.rstrip()
                if ln:
                    self.blocks.append((ln, ratio))
            return
        text = _collapse(raw)
        if text:
            self._emit(text)

    def _emit(self, text: str) -> None:
        total = max(self._total_chars, 1)
        self.blocks.append((text, min(self._link_chars / total, 1.0)))
        self._link_chars = 0
        self._total_chars = 0

    # -- anchors -----------------------------------------------------------
    def _start_anchor(self, attrs) -> None:
        if self._link:  # HTML5: <a> cannot nest; a new one implies </a>
            self._end_anchor()
        self._link = 1
        self._amark = len(self._buf)
        self._href = None
        if self._extract_urls:
            for k, v in attrs:
                if k == "href" and v and v.strip():
                    self._href = v.strip()
                    break

    def _end_anchor(self) -> None:
        """Close the open anchor, mirroring the reference's hyperlink
        rendering (TextWriter.cs:354-440 via formats/word/writer.py
        _output_hyperlink): emit ``display (url)`` when the display text
        differs from the target, the bare url when they match or when the
        anchor has no display text."""
        if not self._link:
            return
        self._link = 0
        href, self._href = self._href, None
        if not self._extract_urls or not href:
            return
        display = _collapse("".join(self._buf[min(self._amark, len(self._buf)):]))
        if display and display.lower() != href.lower():
            extra = f" ({href})"
        elif display:
            return  # display IS the url: already in the buffer
        else:
            extra = href
        self._buf.append(extra)
        # URL furniture belongs to the anchor: count it as link mass so
        # main_content link-density sees nav blocks get denser, not diluted
        n = len(extra) - extra.count(" ")
        self._total_chars += n
        self._link_chars += n

    @property
    def _drop(self) -> int:
        return len(self._drop_stack)

    # -- parser events -----------------------------------------------------
    def handle_starttag(self, tag, attrs, self_closing=False):  # noqa: D102
        self.elements += 1
        if self.elements % 512 == 0:
            check_deadline()
        if tag in _DROP:
            if tag not in _VOID and not self_closing:
                # a repeated non-nesting tag (<option>a<option>b) implicitly
                # closes its predecessor: replace, don't push
                if not (self._drop_stack and self._drop_stack[-1] == tag):
                    self._drop_stack.append(tag)
            return
        if self._drop:
            return
        if tag == "tr":
            self._flush()
            # nested table: the outer row's collected cells must survive
            self._row_stack.append(self._cells)
            self._cells = []
            return
        if tag in ("td", "th"):
            # stray buffered text before the first cell joins the row
            return
        if tag == "a":
            self._start_anchor(attrs)
            return
        if tag == "pre":
            self._flush()
            self._pre += 1
            return
        if tag in _BLOCK:
            self._flush()

    def handle_startendtag(self, tag, attrs):  # <br/>, <iframe/>, ...
        # a self-closing element has no subtree: never push drop depth
        self.handle_starttag(tag, attrs, self_closing=True)

    def handle_endtag(self, tag):  # noqa: D102
        if tag in _DROP:
            if tag in self._drop_stack:
                # truncate at the last open of this tag: everything pushed
                # above it was implicitly closed by this end tag
                idx = len(self._drop_stack) - 1 - self._drop_stack[::-1].index(tag)
                del self._drop_stack[idx:]
            return
        if self._drop:
            return
        if tag in ("td", "th"):
            if self._cells is not None:
                self._cells.append(_collapse("".join(self._buf)))
                self._buf.clear()
                self._amark = 0
            return
        if tag == "tr":
            if self._cells is not None:
                # trailing text outside a cell closes as a final cell
                tail = _collapse("".join(self._buf))
                self._buf.clear()
                self._amark = 0
                cells = self._cells + ([tail] if tail else [])
                # restore the enclosing row (nested table), if any
                self._cells = self._row_stack.pop() if self._row_stack else None
                row = "\t".join(cells)
                if row.strip():
                    self._emit(row)
            return
        if tag == "a":
            self._end_anchor()
            return
        if tag == "pre":
            self._flush()
            self._pre = max(self._pre - 1, 0)
            return
        if tag in _BLOCK:
            self._flush()

    def handle_data(self, data):  # noqa: D102
        # the deadline must also fire on tag-sparse payloads (one huge text
        # node sees almost no start-tag events)
        self._data_since_check += len(data)
        if self._data_since_check >= 65536:
            self._data_since_check = 0
            check_deadline()
        if self._drop or not data:
            return
        self._buf.append(data)
        n = len(data) - data.count(" ")
        self._total_chars += n
        if self._link:
            self._link_chars += n

    def close(self):  # noqa: D102
        super().close()
        self._end_anchor()  # EOF with an open anchor still renders its url
        self._flush()


def extract_html_parts(
    payload: bytes | str,
    main_content: bool = False,
    link_density_max: float = 0.5,
    extract_urls: bool = True,
) -> tuple[str, int, list[tuple[str, int, int]]]:
    """Extract cleaned plain text from an HTML payload.

    Returns (text, elements_decoded, spans) where spans carries one
    ("block", start, end) offset triple per emitted text block — the
    span-offsets contract the pipeline's `spans` column records for every
    payload kind. ``main_content=True`` additionally drops blocks whose
    link density exceeds ``link_density_max`` — the DOM heuristic for
    menus/boilerplate that structural tag filtering can't catch.
    ``extract_urls`` (default on, matching the Word leg) renders anchors
    as ``display (href)`` exactly like the reference's hyperlink fields
    (TextWriter.cs:354-440). html.parser is tolerant of malformed input
    and never raises on garbage; the per-document deadline still bounds
    pathological inputs."""
    if isinstance(payload, bytes):
        payload = payload.decode("utf-8", "replace")
    fold = _TextFold(extract_urls=extract_urls)
    fold.feed(payload)
    fold.close()
    blocks = fold.blocks
    if main_content:
        blocks = [b for b in blocks if b[1] <= link_density_max]
    # spans TILE the text (first start 0, adjacent spans touch, last end ==
    # len): the joining newline belongs to the span it terminates — the
    # same contract the Word leg's part spans follow, asserted end-to-end
    # in tests/test_pipeline_e2e.py::test_spans_cover_text
    spans: list[tuple[str, int, int]] = []
    start = 0
    for i, (text, _ratio) in enumerate(blocks):
        end = start + len(text)
        spans.append(("block", start, end + (1 if i < len(blocks) - 1 else 0)))
        start = end + 1
    return "\n".join(b[0] for b in blocks), fold.elements, spans


_MARKUP_PREFIXES = ("<!doctype", "<html", "<head", "<body")
_TAG_START = re.compile(r"<[a-z][a-z0-9-]*[\s>/]")


def looks_like_markup(payload: bytes) -> bool:
    """Conservative markup sniff for the payload dispatcher: an explicit
    document-level prefix, or a leading element start plus a closing tag in
    the head of the payload. Strict on purpose — a byte-flipped CFB file
    must keep flowing to the CFB parser's error path, not be misread as
    markup (FIXTURES.md hostile-soak contract)."""
    head = payload[:4096].decode("utf-8", "replace")
    h = head.lstrip().lower()
    if h.startswith(_MARKUP_PREFIXES):
        return True
    return bool(_TAG_START.match(h)) and "</" in head
