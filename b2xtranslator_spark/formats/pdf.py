"""PDF -> plain-text extraction (the north rule's "PDF/layout parse" leg).

Pure stdlib ([ISO 32000-1] object syntax + zlib FlateDecode), built for the
same per-document batch kernel as the CFB and markup paths: deterministic,
never raises (callers get row-level status), deadline-bounded; the Flate,
LZW and RunLength filters charge their output to the decode budget.

Structure mirrors the CFB reader's philosophy (spec-driven parse with
defensive relaxations for corrupt files, formats/cfb.py):

- **Object discovery by brute scan**, not xref: every ``N G obj`` marker in
  the buffer is parsed, later definitions win (incremental-update semantics
  — the same last-edit-wins rule as the PPT persist directory,
  formats/ppt.py). A broken or truncated xref therefore costs nothing; this
  is the fuzzer-tolerant choice, and O(payload) like everything else in the
  kernel.
- **Page tree walk** from the trailer/catalog (/Root -> /Pages -> /Kids,
  cycle-guarded like the CFB directory walk); files whose catalog is
  missing or corrupt fall back to /Type/Page objects in file order.
- **Content streams**: /FlateDecode via zlib (raw streams pass through);
  /Length is honored when plausible but ``endstream`` is searched when the
  declared length is missing, indirect, or lies — error tolerance over
  trust, exactly like the reference's defensive stream reads. Filter
  chains also cover LZW / ASCIIHex / ASCII85 / RunLength, and /DecodeParms
  /Predictor (TIFF 2 + PNG 10-15) is un-applied after Flate/LZW — the
  encoding xref/object streams in the wild actually use (Predictor 12).
  Remaining documented non-goal: xref-table *generation-number* precedence
  (an xref resurrecting an older generation of a freed object number over
  a later in-file definition). The brute scan is deliberately xref-free,
  so /Prev chains cost nothing and incremental updates resolve by file
  order; a corpus hitting gen-exact resurrection would need the full xref
  trust model this kernel's fuzz tolerance argues against (VERDICT r04
  re-deferral: no fixture demands it — the reference has no PDF leg at
  all, and text-bearing updates in practice append, not resurrect).
- **Text operators**: BT/ET blocks; Tj / ' / " / TJ show text; Td/TD with a
  vertical component, T*, Tm with a new y, and '/" insert line breaks (the
  layout rule: a vertical reposition is a new line). TJ kerning adjustments
  below ``TJ_SPACE_KERN`` insert a space (the standard heuristic for
  word-gap kerning).
- **Text decoding**: fonts selected by ``Tf`` decode through their
  /ToUnicode CMap when present ([PDF 1.7] 9.10.3: codespacerange width,
  bfchar, both bfrange forms, UTF-16BE destinations) — embedded/CID fonts
  with a ToUnicode map extract real text, with /Resources inherited down
  the page tree (7.7.3.4). Fonts without one fall back to Latin-1 with a
  UTF-16BE BOM sniff; pure Identity-H without the map stays unmapped by
  design (there is no text to recover without the CMap).

Shown text is emitted VERBATIM (no whitespace collapse): a literal string
round-trips bit-exactly, which is what lets the driver oracle state the
expected extraction as the identity in portable SQL.
"""

from __future__ import annotations

import re
import zlib

from ..budget import charge, check_deadline, inflate

__all__ = ["extract_pdf_parts", "PDF_MAGIC"]

PDF_MAGIC = b"%PDF-"
TJ_SPACE_KERN = -180  # thousandths of an em; gaps wider than this are spaces

_WS = b"\x00\t\n\x0c\r "
_OBJ_RE = re.compile(rb"(\d{1,10})\s+(\d{1,5})\s+obj\b")
_TRAILER_RE = re.compile(rb"trailer\b")
_ESCAPES = {
    ord("n"): "\n",
    ord("r"): "\r",
    ord("t"): "\t",
    ord("b"): "\b",
    ord("f"): "\f",
    ord("("): "(",
    ord(")"): ")",
    ord("\\"): "\\",
}


class _Ref(tuple):
    """Indirect reference (num, gen) — a distinct type so a parsed integer
    pair is never confused with one."""

    __slots__ = ()


# runs of whitespace and % comments to end of line (or of buffer)
_WS_RE = re.compile(rb"(?:[\x00\t\n\x0c\r ]+|%[^\n]*\n?)*")


def _skip_ws(buf: bytes, pos: int) -> int:
    # one regex match, not one Python step per byte: an inflated stream
    # can hold megabytes of NUL "whitespace"; max() keeps a pos past the
    # end as it is (the regex clamps it to len(buf))
    return max(pos, _WS_RE.match(buf, pos).end())


# literal-string tokens: a run of ordinary bytes, an escape, a CR(LF), a paren
_LIT_TOKEN_RE = re.compile(rb"[^\\()\r]+|\\([0-7]{1,3}|\r\n?|[\s\S])?|\r\n?|[()]")


def _parse_literal_string(buf: bytes, pos: int) -> tuple[bytes, int]:
    """pos is after '('. Nested parens balance; escapes per 7.3.4.2.
    Ordinary bytes are copied a run at a time: an inflated stream can hold
    one string of many megabytes."""
    out = bytearray()
    depth = 1
    for m in _LIT_TOKEN_RE.finditer(buf, pos):
        tok, e = m.group(), m.group(1)
        if tok[0] == 0x5C:  # backslash
            if e is None:
                break
            if e[0] in _ESCAPES:
                out += _ESCAPES[e[0]].encode("latin-1")
            elif e[0] in b"01234567":  # octal \ddd (1-3 digits)
                out.append(int(e, 8) & 0xFF)
            elif e[0] not in b"\r\n":  # unknown escape: drop the backslash
                out += e  # (an escaped end of line is a continuation)
        elif tok == b"(":
            depth += 1
            out += tok
        elif tok == b")":
            depth -= 1
            if depth == 0:
                return bytes(out), m.end()
            out += tok
        elif tok[0] == 0x0D:  # EOL inside string normalizes to \n (7.3.4.2)
            out.append(0x0A)
        else:
            out += tok
    return bytes(out), len(buf)  # unterminated: best-effort


def _parse_hex_string(buf: bytes, pos: int) -> tuple[bytes, int]:
    e = buf.find(b">", pos)
    if e < 0:
        e = len(buf)
    return _ascii_hex_decode(buf[pos:e]), min(e + 1, len(buf))


# a name runs to the first whitespace or delimiter byte
_NAME_RE = re.compile(rb"[^\x00\t\n\x0c\r ()<>\[\]{}/%]*")


def _parse_name(buf: bytes, pos: int) -> tuple[str, int]:
    start = pos
    pos = _NAME_RE.match(buf, pos).end()
    raw = buf[start:pos]
    # #xx hex escapes in names
    raw = re.sub(rb"#([0-9A-Fa-f]{2})", lambda m: bytes([int(m.group(1), 16)]), raw)
    return "/" + raw.decode("latin-1"), pos


_NUM_RE = re.compile(rb"[+-]?(\d+\.?\d*|\.\d+)")
_KEYWORD_RE = re.compile(rb"[A-Za-z'\"*]{1,32}")


def _parse_value(buf: bytes, pos: int):
    """One object at pos -> (value, newpos). Keywords return ('op', name)."""
    pos = _skip_ws(buf, pos)
    if pos >= len(buf):
        return None, pos
    c = buf[pos]
    if c == 0x28:
        s, pos = _parse_literal_string(buf, pos + 1)
        return ("str", s), pos
    if buf.startswith(b"<<", pos):
        d = {}
        pos += 2
        while True:
            pos = _skip_ws(buf, pos)
            if pos >= len(buf) or buf.startswith(b">>", pos):
                pos = min(pos + 2, len(buf))
                return d, pos
            if buf[pos] != 0x2F:  # malformed key: bail out of the dict
                return d, pos + 1
            key, pos = _parse_name(buf, pos + 1)
            val, pos = _parse_value(buf, pos)
            d[key] = val
    if c == 0x3C:
        s, pos = _parse_hex_string(buf, pos + 1)
        return ("str", s), pos
    if c == 0x5B:
        arr = []
        pos += 1
        while True:
            pos = _skip_ws(buf, pos)
            if pos >= len(buf) or buf[pos] == 0x5D:
                return arr, min(pos + 1, len(buf))
            val, npos = _parse_value(buf, pos)
            if npos == pos:  # no progress: malformed
                return arr, pos + 1
            arr.append(val)
            pos = npos
    if c == 0x2F:
        return _parse_name(buf, pos + 1)
    m = _NUM_RE.match(buf, pos)
    if m:
        txt = m.group(0)
        pos = m.end()
        # indirect reference lookahead: <int> <int> R
        if b"." not in txt:
            m2 = re.compile(rb"\s+(\d{1,10})\s+R\b").match(buf, pos)
            if m2:
                return _Ref((int(txt), int(m2.group(1)))), m2.end()
            return int(txt), pos
        return float(txt), pos
    m = _KEYWORD_RE.match(buf, pos)
    if m:
        kw = m.group(0)
        if kw == b"true":
            return True, m.end()
        if kw == b"false":
            return False, m.end()
        if kw == b"null":
            return None, m.end()
        return ("op", kw.decode("latin-1")), m.end()
    return None, pos + 1  # unparseable byte: skip


def _ascii_hex_decode(data: bytes) -> bytes:
    """7.4.2 ASCIIHexDecode: hex pairs, whitespace ignored, '>' is EOD, an
    odd trailing digit pads with 0."""
    end = data.find(b">")
    if end >= 0:
        data = data[:end]
    digits = re.sub(rb"[^0-9A-Fa-f]", b"", data)
    if len(digits) % 2:
        digits += b"0"
    try:
        return bytes.fromhex(digits.decode("ascii"))
    except ValueError:
        return b""


def _ascii_85_decode(data: bytes) -> bytes:
    """7.4.3 ASCII85Decode: optional <~ lead, ~> EOD, whitespace ignored,
    'z' zero-group shorthand (stdlib a85decode handles both)."""
    import base64 as _b64

    data = re.sub(rb"\s", b"", data)
    if data.startswith(b"<~"):
        data = data[2:]
    end = data.find(b"~>")
    if end >= 0:
        data = data[:end]
    try:
        return _b64.a85decode(data)
    except ValueError:
        return b""


def _lzw_decode(data: bytes, early_change: int = 1) -> bytes:
    """7.4.4 LZWDecode: variable 9..12-bit codes, MSB-first bit packing,
    256 = clear-table, 257 = EOD; code width grows when the next entry
    would overflow the current width, one code EARLY by default
    (/EarlyChange 1, the spec default matching TIFF). Corrupt input
    returns the decoded prefix (best-effort, fuzzer-tolerant — same
    contract as the truncated-deflate salvage above)."""
    out = bytearray()
    table: list[bytes] = []
    prev: bytes | None = None
    width = 9

    def _reset() -> None:
        nonlocal table, width, prev
        table = [bytes([i]) for i in range(256)] + [b"", b""]
        width = 9
        prev = None

    _reset()
    bitbuf = 0
    nbits = 0
    for byte in data:
        bitbuf = (bitbuf << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (bitbuf >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            if code == 256:
                _reset()
                continue
            if code == 257:
                return bytes(out)
            if prev is None:
                if code >= len(table) or code > 255:
                    return bytes(out)  # first code must be a literal
                prev = table[code]
                out += prev
                continue
            if code < len(table):
                entry = table[code]
            elif code == len(table):  # the KwKwK case
                entry = prev + prev[:1]
            else:
                return bytes(out)  # corrupt code: keep the prefix
            table.append(prev + entry[:1])
            charge(len(entry))
            out += entry
            prev = entry
            if len(table) + early_change >= (1 << width) and width < 12:
                width += 1
        bitbuf &= (1 << nbits) - 1  # drop consumed bits, bound the accumulator
    return bytes(out)


def _apply_predictor(data: bytes, predictor: int, columns: int, colors: int, bpc: int) -> bytes:
    """7.4.4.4 predictor post-processing for Flate/LZW streams: 2 = TIFF
    horizontal differencing (8-bit components only — sub-byte depths pass
    through untouched rather than guessing), >= 10 = PNG per-row filters
    (None/Sub/Up/Average/Paeth; the row's leading tag byte picks the
    filter, so all PNG variants share one decoder). Xref and object
    streams in the wild are almost always /Predictor 12 (PNG Up).
    Corrupt geometry (row width <= 0, partial trailing row) decodes the
    consistent prefix — same salvage contract as the filters above."""
    bpp = max(1, (colors * bpc + 7) // 8)  # bytes per complete pixel
    rowlen = (columns * colors * bpc + 7) // 8
    if rowlen <= 0:
        return data
    if predictor == 2:
        if bpc != 8:
            return data
        out = bytearray(data)
        for r0 in range(0, len(out) - rowlen + 1, rowlen):
            for i in range(r0 + bpp, r0 + rowlen):
                out[i] = (out[i] + out[i - bpp]) & 0xFF
        return bytes(out)
    # PNG family: each stored row is 1 tag byte + rowlen data bytes
    out = bytearray()
    prev = bytearray(rowlen)
    pos = 0
    n = len(data)
    while pos + 1 + rowlen <= n:
        tag = data[pos]
        row = bytearray(data[pos + 1 : pos + 1 + rowlen])
        pos += 1 + rowlen
        if tag == 1:  # Sub
            for i in range(bpp, rowlen):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif tag == 2:  # Up
            for i in range(rowlen):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif tag == 3:  # Average
            for i in range(rowlen):
                left = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif tag == 4:  # Paeth
            for i in range(rowlen):
                a = row[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[i] = (row[i] + pred) & 0xFF
        elif tag != 0:  # unknown tag: salvage what we have
            break
        out += row
        prev = row
    return bytes(out)


def _run_length_decode(data: bytes) -> bytes:
    """7.4.5 RunLengthDecode: length byte n in 0..127 copies n+1 literals,
    129..255 repeats the next byte 257-n times, 128 is EOD."""
    out = bytearray()
    pos = 0
    n = len(data)
    while pos < n:
        ln = data[pos]
        pos += 1
        if ln == 128:
            break
        if ln < 128:
            run = data[pos : pos + ln + 1]
            pos += ln + 1
        else:  # a repeat (empty when the data ends here)
            run = data[pos : pos + 1] * (257 - ln)
            pos += 1
        charge(len(run))
        out += run
    return bytes(out)


class _Document:
    def __init__(self, buf: bytes):
        self.buf = buf
        self.objects: dict[int, tuple] = {}  # num -> (value, stream_end_pos)
        self._scan()

    def _scan(self) -> None:
        # 'N G obj' byte patterns INSIDE an already-consumed stream payload
        # are data, not definitions (ADVICE r03: crafted or coincidental
        # stream content must not override a real catalog/page object), so
        # matches before the last stream's end are skipped
        consumed_until = 0
        for i, m in enumerate(_OBJ_RE.finditer(self.buf)):
            if i % 256 == 0:
                check_deadline()
            if m.start() < consumed_until:
                continue
            num = int(m.group(1))
            val, pos = _parse_value(self.buf, m.end())
            data = None
            pos = _skip_ws(self.buf, pos)
            if self.buf.startswith(b"stream", pos):
                data, stream_end, bounded = self._read_stream(val, pos)
                if bounded:
                    consumed_until = stream_end
                # a corrupt stream with no endstream would otherwise mark
                # the REST of the file as stream interior and silently
                # drop every later definition (incremental-update bodies
                # included) — leave the window unchanged and keep scanning
            # later definition wins (incremental update, last-edit-wins)
            self.objects[num] = (val, data)
        self._expand_object_streams()

    def _expand_object_streams(self) -> None:
        """PDF 1.5+ compressed object streams (/Type/ObjStm, 7.5.7): most
        modern writers pack non-stream objects inside one Flate stream, so
        the textual brute scan alone would miss the catalog/pages/fonts
        entirely. Each ObjStm carries /N (count) and /First (offset of the
        first object), preceded by N (objnum, relative-offset) integer
        pairs. Members never OVERRIDE a directly-scanned definition (a
        direct 'N 0 obj' in an incremental update supersedes the packed
        copy); among themselves, later file-order streams win."""
        stm_nums = [
            num
            for num, (val, data) in self.objects.items()
            if isinstance(val, dict)
            and val.get("/Type") == "/ObjStm"
            and data is not None
        ]
        direct = set(self.objects)
        for num in stm_nums:
            check_deadline()
            payload = self.stream_data(_Ref((num, 0)))
            if not payload:
                continue
            val = self.objects[num][0]
            n = self.resolve(val.get("/N"))
            first = self.resolve(val.get("/First"))
            if not isinstance(n, int) or not isinstance(first, int):
                continue
            if first < 0 or first >= len(payload):
                continue  # hostile /First: negative indexing or OOB
            n = max(0, min(n, 65536))  # hostile header cap
            # header: N pairs of integers (objnum offset)
            pos = 0
            pairs = []
            for _ in range(2 * n):
                v, npos = _parse_value(payload, pos)
                if npos == pos or not isinstance(v, int):
                    break
                pairs.append(v)
                pos = npos
            for i, (objnum, off) in enumerate(zip(pairs[::2], pairs[1::2])):
                if i % 64 == 0:
                    # a 65536-member header over a large payload is O(N x
                    # payload) of member parses — the per-document deadline
                    # must be able to fire inside this loop
                    check_deadline()
                if objnum in direct:  # direct definitions win
                    continue
                if off < 0 or first + off >= len(payload):
                    continue
                obj, _ = _parse_value(payload, first + off)
                self.objects[objnum] = (obj, None)

    def _read_stream(self, sdict, pos: int) -> tuple[bytes, int, bool]:
        """Returns (payload bytes, end offset of the payload in self.buf,
        bounded?) — the end offset bounds the scan's stream-interior skip
        window, but only when a real ``endstream`` bounded it (bounded
        False = fallback scan ran off the end of the buffer)."""
        pos += len(b"stream")
        if self.buf.startswith(b"\r\n", pos):
            pos += 2
        elif pos < len(self.buf) and self.buf[pos : pos + 1] in (b"\n", b"\r"):
            pos += 1
        length = sdict.get("/Length") if isinstance(sdict, dict) else None
        if isinstance(length, _Ref):
            lv = self.resolve(length)
            length = lv if isinstance(lv, int) else None
        end = None
        if isinstance(length, int) and 0 <= length <= len(self.buf) - pos:
            cand = pos + length
            if self.buf[cand : cand + 32].lstrip(_WS).startswith(b"endstream"):
                end = cand
        bounded = True
        if end is None:  # declared length missing/indirectly wrong: search
            e = self.buf.find(b"endstream", pos)
            bounded = e >= 0
            end = e if e >= 0 else len(self.buf)
        return self.buf[pos:end], end, bounded

    def resolve(self, obj, _depth: int = 0):
        while isinstance(obj, _Ref) and _depth < 32:
            entry = self.objects.get(obj[0])
            if entry is None:
                return None
            obj = entry[0]
            _depth += 1
        return obj

    def stream_data(self, obj) -> bytes:
        """Decoded bytes of a stream object (or b'' if not a stream)."""
        if isinstance(obj, _Ref):
            entry = self.objects.get(obj[0])
            if entry is None:
                return b""
            sdict, data = entry
        else:
            return b""
        if data is None:
            return b""
        filt = self.resolve(sdict.get("/Filter")) if isinstance(sdict, dict) else None
        filters = filt if isinstance(filt, list) else [filt] if filt else []
        parms = self.resolve(sdict.get("/DecodeParms")) if isinstance(sdict, dict) else None
        parms_list = parms if isinstance(parms, list) else [parms] * len(filters)
        for i, f in enumerate(filters):
            name = self.resolve(f)
            parm = self.resolve(parms_list[i]) if i < len(parms_list) else None
            if name == "/FlateDecode":
                # a truncated deflate yields its prefix (salvage)
                try:
                    data = inflate(zlib.decompressobj(), data)
                except zlib.error:
                    return b""
                data = self._maybe_unpredict(data, parm)
            elif name == "/ASCIIHexDecode":
                data = _ascii_hex_decode(data)
            elif name == "/ASCII85Decode":
                data = _ascii_85_decode(data)
            elif name == "/RunLengthDecode":
                data = _run_length_decode(data)
            elif name == "/LZWDecode":
                ec = parm.get("/EarlyChange") if isinstance(parm, dict) else None
                ec = self.resolve(ec)
                data = _lzw_decode(data, 1 if not isinstance(ec, int) else ec)
                data = self._maybe_unpredict(data, parm)
            # unknown filters (DCT, JPX, ...) pass through undecoded; text
            # content in scope uses the ones above or none
        return data

    def _maybe_unpredict(self, data: bytes, parm) -> bytes:
        """Apply /DecodeParms /Predictor to a Flate/LZW-decoded stream
        (7.4.4.4). No-op without a predictor dict — the overwhelmingly
        common case for content streams; xref/object streams typically
        carry /Predictor 12 /Columns w."""
        if not isinstance(parm, dict):
            return data
        pred = self.resolve(parm.get("/Predictor"))
        if not isinstance(pred, int) or pred <= 1:
            return data
        cols = self.resolve(parm.get("/Columns"))
        colors = self.resolve(parm.get("/Colors"))
        bpc = self.resolve(parm.get("/BitsPerComponent"))
        return _apply_predictor(
            data,
            pred,
            cols if isinstance(cols, int) and cols > 0 else 1,
            colors if isinstance(colors, int) and colors > 0 else 1,
            bpc if isinstance(bpc, int) and bpc > 0 else 8,
        )

    # -- page tree ---------------------------------------------------------
    def _catalog(self):
        root = None
        for m in _TRAILER_RE.finditer(self.buf):
            val, _ = _parse_value(self.buf, m.end())
            if isinstance(val, dict) and "/Root" in val:
                root = val["/Root"]  # last trailer wins
        if root is not None:
            cat = self.resolve(root)
            if isinstance(cat, dict):
                return cat
        for num in self.objects:  # fallback: any catalog object
            val = self.objects[num][0]
            if isinstance(val, dict) and val.get("/Type") == "/Catalog":
                return val
        return None

    def pages(self) -> list[tuple[dict, dict | None]]:
        """Leaf pages with their EFFECTIVE /Resources (inheritable from
        ancestor /Pages nodes per 7.7.3.4) -> [(page, resources)]."""
        cat = self._catalog()
        out: list[tuple[dict, dict | None]] = []
        seen: set[int] = set()

        def walk(node_ref, inherited_res, depth=0):
            if depth > 64:
                return
            if isinstance(node_ref, _Ref):
                if node_ref[0] in seen:  # cycle guard (CFB directory rule)
                    return
                seen.add(node_ref[0])
            node = self.resolve(node_ref)
            if not isinstance(node, dict):
                return
            res = self.resolve(node.get("/Resources"))
            if not isinstance(res, dict):
                res = inherited_res
            t = node.get("/Type")
            if t == "/Page":
                out.append((node, res))
                return
            kids = self.resolve(node.get("/Kids"))
            if isinstance(kids, list):
                for kid in kids:
                    walk(kid, res, depth + 1)

        if cat is not None:
            walk(cat.get("/Pages"), None)
        if not out:  # corrupt/missing tree: file-order fallback
            for num in sorted(self.objects):
                val = self.objects[num][0]
                if isinstance(val, dict) and val.get("/Type") == "/Page":
                    out.append((val, self.resolve(val.get("/Resources"))))
        return out

    def font_decoders(self, resources) -> dict[str, "_FontDecoder"]:
        """Map font resource names (/F1 ...) to decoders built from each
        font's /ToUnicode CMap; fonts without one fall back to Latin-1."""
        decoders: dict[str, _FontDecoder] = {}
        if not isinstance(resources, dict):
            return decoders
        fonts = self.resolve(resources.get("/Font"))
        if not isinstance(fonts, dict):
            return decoders
        for name, ref in fonts.items():
            font = self.resolve(ref)
            if not isinstance(font, dict):
                continue
            tou = font.get("/ToUnicode")
            if isinstance(tou, _Ref):
                data = self.stream_data(tou)
                if data:
                    decoders[name] = _FontDecoder.from_cmap(data)
        return decoders


def _page_content(doc: _Document, page: dict) -> bytes:
    contents = page.get("/Contents")
    refs = contents if isinstance(contents, list) else [contents]
    parts = []
    for r in refs:
        if isinstance(r, _Ref):
            parts.append(doc.stream_data(r))
    return b"\n".join(p for p in parts if p)


def _is_str(v) -> bool:
    """A parsed PDF string — NOT a _Ref, which is also a tuple."""
    return type(v) is tuple and len(v) == 2 and v[0] == "str"


_CODESPACE_RE = re.compile(
    rb"begincodespacerange(.*?)endcodespacerange", re.DOTALL
)
_BFCHAR_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.DOTALL)
_BFRANGE_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.DOTALL)
_HEX_RE = re.compile(rb"<([0-9A-Fa-f]+)>")
_BFRANGE_ENTRY_RE = re.compile(
    rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*(?:<([0-9A-Fa-f]+)>|\[(.*?)\])",
    re.DOTALL,
)
_MAX_CMAP_ENTRIES = 65536  # hostile-input cap on materialized mappings


def _safe_chr(code: int) -> str:
    """chr() that never yields a lone UTF-16 surrogate — a surrogate in a
    Python str crashes Arrow/UTF-8 serialization later, turning one corrupt
    CMap into a task failure instead of a row-status error."""
    if 0xD800 <= code <= 0xDFFF or code >= 0x110000 or code < 0:
        return "\ufffd"
    return chr(code)


def _hex_to_text(h: bytes) -> str:
    """CMap destination hex = UTF-16BE code units."""
    raw = bytes.fromhex(h.decode("ascii"))
    if len(raw) % 2:
        raw += b"\x00"
    return raw.decode("utf-16-be", "replace")


class _FontDecoder:
    """Decodes shown string bytes for one font.

    With a /ToUnicode CMap ([PDF 1.7] 9.10.3): codes of ``width`` bytes map
    through bfchar/bfrange entries (destination hex is UTF-16BE); unmapped
    1-byte codes fall back to Latin-1 and unmapped wide codes to their
    codepoint. Without a CMap: Latin-1, with a UTF-16BE BOM sniff (the
    text-string convention, 7.9.2.2)."""

    def __init__(self, width: int = 1, cmap: dict[int, str] | None = None):
        self.width = max(1, min(width, 4))
        self.cmap = cmap

    @classmethod
    def from_cmap(cls, data: bytes) -> "_FontDecoder":
        width = 1
        m = _CODESPACE_RE.search(data)
        if m:
            first = _HEX_RE.search(m.group(1))
            if first:
                width = max(1, len(first.group(1)) // 2)
        cmap: dict[int, str] = {}
        for block in _BFCHAR_RE.finditer(data):
            hexes = _HEX_RE.findall(block.group(1))
            for src, dst in zip(hexes[::2], hexes[1::2]):
                if len(cmap) >= _MAX_CMAP_ENTRIES:
                    break
                cmap[int(src, 16)] = _hex_to_text(dst)
        for block in _BFRANGE_RE.finditer(data):
            for entry in _BFRANGE_ENTRY_RE.finditer(block.group(1)):
                lo, hi = int(entry.group(1), 16), int(entry.group(2), 16)
                hi = min(hi, lo + _MAX_CMAP_ENTRIES)  # hostile range cap
                if entry.group(3) is not None:
                    # <lo> <hi> <dstStart>: consecutive destinations — the
                    # LAST UTF-16 code unit increments (9.10.3)
                    base = entry.group(3)
                    base_prefix = _hex_to_text(base[:-4]) if len(base) > 4 else ""
                    base_last = int(base[-4:], 16) if len(base) >= 4 else int(base, 16)
                    for i, code in enumerate(range(lo, hi + 1)):
                        if len(cmap) >= _MAX_CMAP_ENTRIES:
                            break
                        cmap[code] = base_prefix + _safe_chr(
                            (base_last + i) & 0xFFFF
                        )
                else:
                    dsts = _HEX_RE.findall(entry.group(4))
                    for code, dst in zip(range(lo, hi + 1), dsts):
                        if len(cmap) >= _MAX_CMAP_ENTRIES:
                            break
                        cmap[code] = _hex_to_text(dst)
        return cls(width, cmap)

    def decode(self, raw: bytes) -> str:
        if self.cmap is None:
            if raw.startswith(b"\xfe\xff"):
                return raw[2:].decode("utf-16-be", "replace")
            return raw.decode("latin-1")
        w = self.width
        out = []
        for i in range(0, len(raw) - (len(raw) % w), w):
            code = int.from_bytes(raw[i : i + w], "big")
            mapped = self.cmap.get(code)
            if mapped is not None:
                out.append(mapped)
            elif w == 1:
                out.append(raw[i : i + 1].decode("latin-1"))
            else:
                out.append(_safe_chr(code))
        tail = len(raw) % w
        if tail:  # trailing partial code: pass through as Latin-1
            out.append(raw[-tail:].decode("latin-1"))
        return "".join(out)


_LATIN1 = _FontDecoder()


def _extract_content_text(
    content: bytes, fonts: dict[str, _FontDecoder] | None = None
) -> tuple[str, int]:
    """Run the text operators of one content stream -> (text, ops_seen)."""
    pos = 0
    n = len(content)
    operands: list = []
    out: list[str] = []
    line_open = False  # whether text has been shown since the last break
    ops = 0
    fonts = fonts or {}
    decoder = _LATIN1
    tm_y = None  # last Tm vertical position within the current BT

    def show(raw: bytes) -> None:
        nonlocal line_open
        out.append(decoder.decode(raw))
        line_open = True

    def newline() -> None:
        nonlocal line_open
        if line_open:
            out.append("\n")
            line_open = False

    while pos < n:
        val, npos = _parse_value(content, pos)
        if npos == pos:
            npos += 1
        pos = npos
        ops += 1
        if ops % 1024 == 0:
            check_deadline()
        if not (isinstance(val, tuple) and len(val) == 2 and val[0] == "op"):
            operands.append(val)
            if len(operands) > 64:  # runaway operand stack on garbage
                del operands[:-8]
            continue
        op = val[1]
        if op == "Tj":
            if operands and _is_str(operands[-1]):
                show(operands[-1][1])
        elif op == "TJ":
            if operands and isinstance(operands[-1], list):
                for el in operands[-1]:
                    if _is_str(el):
                        show(el[1])
                    elif isinstance(el, (int, float)) and el < TJ_SPACE_KERN:
                        show(b" ")
        elif op in ("'", '"'):
            newline()
            if operands and _is_str(operands[-1]):
                show(operands[-1][1])
        elif op in ("Td", "TD"):
            if (
                len(operands) >= 2
                and isinstance(operands[-1], (int, float))
                and operands[-1] != 0
            ):
                newline()
        elif op == "T*":
            newline()
        elif op == "Tf":
            # /Name size Tf: select the font's decoder for subsequent shows
            if len(operands) >= 2 and isinstance(operands[-2], str):
                decoder = fonts.get(operands[-2], _LATIN1)
        elif op == "Tm":
            # a b c d e f Tm: break only when the VERTICAL position (f)
            # changes — horizontally repositioned runs at the same y
            # (justified text, columns) stay on one line per the documented
            # "Tm with a new y" rule
            y = operands[-1] if operands and isinstance(
                operands[-1], (int, float)
            ) else None
            if y is None or tm_y is None or y != tm_y:
                newline()
            tm_y = y
        elif op == "BT":
            tm_y = None
        elif op == "ET":
            newline()
        operands = []
    return "".join(out).rstrip("\n"), ops


def extract_pdf_parts(
    payload: bytes,
) -> tuple[str, int, list[tuple[str, int, int]]]:
    """Extract plain text from a PDF payload ->
    (text, records_decoded, spans), with one ("page", start, end) span per
    non-empty page — the span-offsets contract of the pipeline's `spans`
    column.

    Pages in catalog-tree order (file order on corrupt trees), page texts
    joined with one newline; shown strings verbatim modulo the selected
    font's ToUnicode CMap. Tolerant of broken xref/lengths by
    construction; raises only DocumentTimeout (deadline), which the
    dispatcher maps to a timeout row."""
    doc = _Document(payload)
    texts = []
    spans: list[tuple[str, int, int]] = []
    records = len(doc.objects)
    start = 0
    for page, resources in doc.pages():
        check_deadline()
        content = _page_content(doc, page)
        if not content:
            continue
        t, ops = _extract_content_text(content, doc.font_decoders(resources))
        records += ops
        if t:
            texts.append(t)
            spans.append(("page", start, start + len(t)))
            start += len(t) + 1  # the joining newline
    # spans TILE the text (pipeline contract, test_spans_cover_text): the
    # page-joining newline belongs to the span it terminates
    spans = [
        (p, s, e + (1 if i < len(spans) - 1 else 0))
        for i, (p, s, e) in enumerate(spans)
    ]
    return "\n".join(texts), records, spans
