"""RTF -> plain-text extraction (the sixth payload format).

Transcript corpora carry RTF alongside the binary Office formats (it was
the interchange format of the same era the reference targets), so the
payload kernel dispatches ``{\\rtf`` payloads here. Pure stdlib, one
pass, deterministic — the same contract as formats/markup.py and
formats/pdf.py: no external library, hostile input never raises, the
per-document deadline bounds pathological payloads.

Implements the text-relevant core of the public RTF 1.9 specification:

- group nesting ``{`` ``}`` with state save/restore (the ``\\ucN``
  skip-count and destination-skip flag are group-scoped);
- control words (``\\word`` with optional signed numeric parameter and
  one optional trailing space eaten) and control symbols (``\\{``,
  ``\\}``, ``\\\\``, ``\\~`` nbsp, ``\\-``/``\\_`` hyphens, ``\\*``);
- ``\\'hh`` codepage bytes, decoded via the ``\\ansicpgN`` header
  codepage (default windows-1252, same default the Word leg uses);
- ``\\uN`` Unicode escapes with the ``\\ucN`` convention: the N
  following chars/escapes are the ANSI fallback and are SKIPPED (N
  defaults to 1); signed N (negative values wrap at 65536 per spec);
- destination groups that never hold body text (fonttbl, colortbl,
  stylesheet, info, pict, object, fldinst, ...) are dropped whole, as
  is any ``{\\*\\...}`` group whose destination is not understood;
- paragraph/line structure: ``\\par``/``\\line`` -> newline, ``\\tab``
  -> tab, ``\\cell`` -> tab, ``\\row`` -> newline (the same cell/row
  folding the Word table walk emits), plus the common special-char
  words (emdash, bullet, quotes, nbsp).
"""

from __future__ import annotations

from ..budget import check_deadline
from .ooxml import _tiled_spans

__all__ = ["extract_rtf_parts", "looks_like_rtf"]

# destinations whose content is never body text (RTF 1.9 destination
# control words; fldinst carries the field instruction, not its result)
_SKIP_DESTS = {
    "fonttbl",
    "colortbl",
    "stylesheet",
    "listtable",
    "listoverridetable",
    "info",
    "pict",
    "object",
    "themedata",
    "colorschememapping",
    "datastore",
    "latentstyles",
    "generator",
    "xmlnstbl",
    "filetbl",
    "revtbl",
    "fldinst",
    "ftnsep",
    "ftnsepc",
    "header",
    "headerl",
    "headerr",
    "headerf",
    "footer",
    "footerl",
    "footerr",
    "footerf",
    "nonshppict",
    "shpinst",
    "background",
}

_SPECIAL_WORDS = {
    "par": "\n",
    "line": "\n",
    "tab": "\t",
    "cell": "\t",
    "row": "\n",
    "sect": "\n",
    "page": "\n",
    "emdash": "—",
    "endash": "–",
    "emspace": " ",
    "enspace": " ",
    "qmspace": " ",
    "bullet": "•",
    "lquote": "‘",
    "rquote": "’",
    "ldblquote": "“",
    "rdblquote": "”",
    "zwnj": "‌",
    "zwj": "‍",
    "ltrmark": "‎",
    "rtlmark": "‏",
}

_CTRL_SYMBOLS = {
    ord("{"): "{",
    ord("}"): "}",
    ord("\\"): "\\",
    ord("~"): " ",
    ord("-"): "",  # optional hyphen: no text
    ord("_"): "‑",  # non-breaking hyphen
}


def looks_like_rtf(payload: bytes) -> bool:
    return payload[:5] == b"{\\rtf"


def _codepage_codec(cp: int) -> str:
    try:
        name = f"cp{cp}"
        b"\x41".decode(name)
        return name
    except LookupError:
        return "cp1252"


def _render_field(frame: dict, extract_urls: bool, sink: list[str]) -> None:
    """Emit a closed {\field ...} group: HYPERLINK instructions render as
    ``display (url)`` exactly like the Word leg's fields (writer.py
    _output_hyperlink / TextWriter.cs:354-440); any other field keeps its
    result text verbatim."""
    from .word.writer import _extract_hyperlink_url

    display = "".join(frame["res"])
    url = _extract_hyperlink_url("".join(frame["inst"]))
    if extract_urls and url:
        d = display.strip()
        if d and d.lower() != url.lower():
            sink.append(f"{d} ({url})")
        else:
            sink.append(url)
    else:
        sink.append(display)


def extract_rtf_parts(
    payload: bytes, extract_urls: bool = True
) -> tuple[str, int, list[tuple[str, int, int]]]:
    """Extract plain text from an RTF payload.

    Returns (text, control_words_decoded, spans) with one ("par", start,
    end) offset triple per emitted paragraph — the spans contract the
    pipeline records for every payload kind. Tolerant of malformed input
    (unbalanced groups, truncated escapes): best-effort, never raises."""
    buf = payload
    n = len(buf)
    pos = 0
    out: list[str] = []
    codec = "cp1252"
    uc_skip = 1
    pending_skip = 0  # chars to skip after \uN (the ANSI fallback)
    # group state stack: (uc_skip, skipping?, sink)
    stack: list[tuple[int, bool, list[str]]] = []
    skipping = False
    sink: list[str] = out  # where decoded text lands (field capture swaps it)
    # open \field frames: {"depth": group depth, "inst": [...], "res": [...]}
    fields: list[dict] = []
    records = 0
    next_deadline_check = 0  # byte-progress gate: fires every 64 KiB of pos
    pending_byte_run = bytearray()  # consecutive \'hh bytes decode as one run

    def flush_bytes() -> None:
        nonlocal pending_byte_run
        if pending_byte_run:
            sink.append(pending_byte_run.decode(codec, "replace"))
            pending_byte_run = bytearray()

    while pos < n:
        # gate on byte progress, not control-word count: a text-heavy
        # payload advances pos without advancing records, and pos strictly
        # increases every iteration, so this fires ~every 64 KiB regardless
        # of the control-word/text mix
        if pos >= next_deadline_check:
            check_deadline()
            next_deadline_check = pos + 65536
        c = buf[pos]
        if c == 0x7B:  # {
            flush_bytes()
            stack.append((uc_skip, skipping, sink))
            pos += 1
            continue
        if c == 0x7D:  # }
            flush_bytes()
            closing_field = bool(fields) and len(stack) == fields[-1]["depth"]
            if stack:
                uc_skip, skipping, sink = stack.pop()
            if closing_field:
                _render_field(fields.pop(), extract_urls, sink)
            pos += 1
            continue
        if c != 0x5C:  # plain text byte
            if buf.startswith(b"\r", pos) or buf.startswith(b"\n", pos):
                pos += 1  # raw newlines in RTF source are formatting, not text
                continue
            if skipping:
                pos += 1
                continue
            if pending_skip > 0:
                pending_skip -= 1
                pos += 1
                continue
            pending_byte_run.append(c)
            pos += 1
            continue
        # control: backslash
        records += 1
        pos += 1
        if pos >= n:
            break
        e = buf[pos]
        if e == 0x27:  # \'hh codepage byte
            hex_str = buf[pos + 1 : pos + 3].decode("latin-1", "replace")
            pos += 3
            if skipping:
                continue
            if pending_skip > 0:
                pending_skip -= 1
                continue
            try:
                pending_byte_run.append(int(hex_str, 16))
            except ValueError:
                pass
            continue
        if not (0x41 <= e <= 0x5A or 0x61 <= e <= 0x7A):
            # control symbol (one char)
            pos += 1
            if skipping or pending_skip > 0:
                if pending_skip > 0 and e in _CTRL_SYMBOLS:
                    pending_skip -= 1
                continue
            if e == 0x2A:  # \* -> unknown-destination marker
                # peek: {\*\dest ...} with an unrecognized dest drops the
                # group; recognized \* destinations are handled below when
                # their word is read
                flush_bytes()
                skipping = True  # provisional; a known word clears it
                continue
            sym = _CTRL_SYMBOLS.get(e)
            if sym:
                flush_bytes()
                sink.append(sym)
            continue
        # control word: letters then optional signed number
        start = pos
        while pos < n and (0x41 <= buf[pos] <= 0x5A or 0x61 <= buf[pos] <= 0x7A):
            pos += 1
        word = buf[start:pos].decode("latin-1")
        num_start = pos
        if pos < n and buf[pos] == 0x2D:  # minus
            pos += 1
        while pos < n and 0x30 <= buf[pos] <= 0x39:
            pos += 1
        param = None
        if pos > num_start:
            try:
                param = int(buf[num_start:pos].decode("latin-1"))
            except ValueError:
                param = None
        if pos < n and buf[pos] == 0x20:  # one trailing space is eaten
            pos += 1
        # ---- dispatch -------------------------------------------------
        if word == "bin":
            # \binN: the next N bytes are raw binary, not RTF syntax — a
            # raw brace byte inside them would derail group tracking
            pos += max(0, param or 0)
            continue
        if word == "field":
            if not skipping:
                fields.append({"depth": len(stack), "inst": [], "res": []})
            continue
        if word == "fldinst" and fields:
            # capture the field instruction instead of dropping it: the
            # HYPERLINK url renders like the doc/html legs
            flush_bytes()
            sink = fields[-1]["inst"]
            skipping = False
            continue
        if word == "fldrslt" and fields:
            flush_bytes()
            sink = fields[-1]["res"]
            skipping = False
            continue
        if word in _SKIP_DESTS:
            flush_bytes()
            skipping = True
            continue
        if word == "ansicpg" and param is not None:
            flush_bytes()
            codec = _codepage_codec(param)
            continue
        if word == "uc":
            uc_skip = max(0, param if param is not None else 1)
            continue
        if word == "u":
            if skipping:
                continue
            cp = param if param is not None else 0
            if cp < 0:  # signed 16-bit wrap per spec
                cp += 65536
            flush_bytes()
            # land in the ACTIVE sink, not the top-level out: a \uN inside
            # {\fldrslt}/{\fldinst}/shptxt must stay in that capture frame
            if not 0xD800 <= cp <= 0xDFFF:  # lone surrogates break Arrow
                sink.append(chr(cp) if 0 <= cp <= 0x10FFFF else "�")
            else:
                sink.append("�")
            pending_skip = uc_skip
            continue
        if word in _SPECIAL_WORDS:
            if skipping:
                continue
            if pending_skip > 0:
                pending_skip -= 1
                continue
            flush_bytes()
            sink.append(_SPECIAL_WORDS[word])
            continue
        if skipping and word == "shptxt":
            # the one content-bearing subgroup of a skipped destination:
            # shape/textbox text inside {\*\shpinst ...} (the Word leg
            # extracts textboxes too). Bookmark names and field
            # instructions stay skipped — text-neutral, matching the
            # reference's writers.
            skipping = False
            continue
        # any other control word: formatting — ignored
    flush_bytes()
    text = "".join(out)
    # trailing paragraph mark: Word writers end the body with \par; the
    # reference's writers drop the final empty line, and so do we
    text = text.rstrip("\n")
    return text, records, _tiled_spans(text, "par")
