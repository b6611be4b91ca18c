"""CP-walk text extraction: paragraphs, tables, runs, fields, subdocuments.

Behavioral re-implementation of the reference's mapping layer
(/root/reference/Text/TextMapping/DocumentMapping.cs,
MainDocumentMapping.cs, FootnotesMapping.cs, EndnotesMapping.cs,
CommentsMapping.cs, TextboxMapping.cs) emitting events into
``TextEventWriter``. Deviations (all text-neutral, chosen for robustness at
corpus scale):

- bookmark run-splitting is skipped (bookmarkStart/End emit no text and the
  split sub-runs concatenate to the same w:t content);
- table-grid building (DocumentMapping.buildTableGrid) is skipped — the grid
  feeds only table-property elements that the text writer ignores;
- picture/OLE sub-parses that emit only non-text elements are skipped.
"""

from __future__ import annotations

import re

from ...budget import DocumentTimeout, check_deadline
from .document import OfficeArt, WordBinaryDocument
from .sprm import TableInfo, get_symbol, is_special, revision_is_deleted
from .writer import TextEventWriter

# text marks (TextMark.cs:5-32)
PARAGRAPH_END = "\r"
HARD_LINE_BREAK = "\x0b"
PAGE_BREAK_OR_SECTION = "\x0c"
COLUMN_BREAK = "\x0e"
TAB = "\t"
FIELD_BEGIN = "\x13"
FIELD_SEP = "\x14"
FIELD_END = "\x15"
CELL_OR_ROW = "\x07"
PICTURE = "\x01"
AUTO_FOOTNOTE_REF = "\x02"
ANNOTATION_REF = "\x05"
DRAWN_OBJECT = "\x08"
SYMBOL = "\x28"  # (char)40

# Windows-1252 C1 control -> Unicode (DocumentMapping.cs:1459-1480)
_WIN1252_C1 = str.maketrans(
    {
        0x91: "‘", 0x92: "’", 0x93: "“", 0x94: "”",
        0x95: "•", 0x96: "–", 0x97: "—", 0x98: "˜",
        0x99: "™", 0x9A: "š", 0x9B: "›", 0x9C: "œ",
        0x9E: "ž", 0x9F: "Ÿ",
    }
)
_WIN1252_C1_RE = re.compile("[\x91-\x9f]")


def _map_win1252_c1(chars: str) -> str:
    # str.translate walks every non-ASCII string char by char even when
    # nothing maps; isascii() is O(1) and the regex search runs at C speed
    if chars.isascii() or not _WIN1252_C1_RE.search(chars):
        return chars
    return chars.translate(_WIN1252_C1)


_PARA_BOUNDARY_RE = re.compile("[\r\x07\x0c]")
_DISPATCH_STOP_RE = re.compile("[\x00-\x1f￿]")
_DISPATCH_STOP_SPEC_RE = re.compile("[\x00-\x1f\x28￿]")
_CLASSIC_FIELD_RE = re.compile("^(\x13)(.*)(\x14)(.*)(\x15)", re.DOTALL)
_SHORT_FIELD_RE = re.compile("^(\x13)(.*)(\x15)", re.DOTALL)


def _parse_field_code(field_str: str) -> str | None:
    """Field.cs:14-46 (DOTALL used because C# applies these to strings that
    may contain \\r, which C# '.' does match... no — C# '.' excludes only
    \\n; \\r is matched. DOTALL over-matches only on \\n which cannot appear
    in Word CP text, so behavior is identical)."""
    m = _CLASSIC_FIELD_RE.match(field_str)
    if m:
        return m.group(2)
    m = _SHORT_FIELD_RE.match(field_str)
    if m:
        return m.group(2)
    return None


class ParseFailure(ValueError):
    pass


class PictureParseError(ValueError):
    """Error parity with the reference's unguarded PictureDescriptor reads."""


_EOS_MSG = "Unable to read beyond the end of the stream."


def _picture_error_parity(chpx: list, data_stream: bytes | None) -> None:
    """Replicate PictureDescriptor.parse's typed-read bounds behavior
    (PictureDescriptor.cs:155-230): the reference seeks the Data stream to
    fcPic (from the LAST sprmCPicLocation/sprmCHsp in the CHPX, GetFcPic
    PictureDescriptor.cs:237-259) and does unguarded BinaryReader reads — a
    corrupt fcPic beyond the stream throws EndOfStreamException, which
    propagates out of text extraction (no try/catch in DocumentMapping.cs:
    1142/1291). Fuzzed fixtures encode that error as their expected text,
    so the raise IS the correct output. Emits no text otherwise."""
    import struct as _struct

    from .sprm import SPRM_C_HSP, SPRM_C_PIC_LOCATION

    fc = -1
    for opcode, args in chpx:
        # DOCUMENTED DEVIATION (decided, ADVICE r03): C#'s
        # BitConverter.ToInt32 would throw ArgumentException on a <4-byte
        # sprm argument (GetFcPic, PictureDescriptor.cs:237-259); we treat
        # it as "no fcPic" instead. The exact .NET message is not
        # verifiable in this environment, and a fuzzed sprm this short is
        # already a parse casualty — skipping is deterministic and safe.
        if opcode in (SPRM_C_PIC_LOCATION, SPRM_C_HSP) and len(args) >= 4:
            (fc,) = _struct.unpack_from("<i", args, 0)
    if fc < 0 or data_stream is None:
        return
    n = len(data_stream)
    pos = fc

    def typed(nbytes: int) -> bytes:
        nonlocal pos
        if pos + nbytes > n or pos < 0:
            raise PictureParseError(_EOS_MSG)
        v = data_stream[pos : pos + nbytes]
        pos += nbytes
        return v

    (lcb,) = _struct.unpack("<i", typed(4))
    if lcb > 0:
        typed(2)  # cbHeader
        (mm,) = _struct.unpack("<h", typed(2))
        typed(6)  # xExt, yExt, hMf
        if mm > 98:
            pos = min(n, pos + 14)  # rcWinMf via ReadBytes (clamps, no throw)
            for _ in range(9):  # dxaGoal dyaGoal mx my 4x crops brcl
                typed(2)
            pos = min(n, pos + 16)  # 4 BorderCodes via ReadBytes
            for _ in range(3):  # dxaOrigin dyaOrigin cProps
                typed(2)
            # Record.ReadRecord (Record.cs:250-259): verAndInstance,
            # typeCode, size are unguarded BinaryReader typed reads — a
            # stream truncated between cProps and the header throws
            # EndOfStream in the reference too
            typed(2)
            (type_code,) = _struct.unpack("<H", typed(2))
            (size,) = _struct.unpack("<I", typed(4))
            # record body: both branches of Record..ctor (Record.cs:67-74)
            # go through ReadBytes, which clamps at stream end — no throw
            raw = data_stream[pos : pos + size]
            pos = min(n, pos + size)
            # container records (RegularContainer.cs:25-47) eagerly parse
            # children from the in-memory RawData; truncated or
            # inconsistent child headers throw EndOfStream from the
            # MemoryStream reader and propagate (the ctor re-throws)
            _replay_container_children(raw, size, type_code)
            if type_code == 0xF004 and pos < fc + lcb:
                # PictureDescriptor.cs: after a ShapeContainer, a second
                # ReadRecord probes for a BlipStoreEntry — same unguarded
                # header reads against the Data stream
                typed(2)
                (tc2,) = _struct.unpack("<H", typed(2))
                (sz2,) = _struct.unpack("<I", typed(4))
                raw2 = data_stream[pos : pos + sz2]
                pos = min(n, pos + sz2)
                _replay_container_children(raw2, sz2, tc2)
            # explicit cut: LEAF record constructors that do typed reads
            # over their own RawData (e.g. BlipStoreEntry field parses) are
            # not replayed — fixture corpus never reaches them, and the
            # clamped RawData bounds what they could read


# OfficeDrawing containers registered in Record.Registry: BlipStore 0xF001,
# Drawing 0xF002, Group 0xF003, Shape 0xF004, Solver 0xF005
_CONTAINER_TYPE_CODES = frozenset((0xF001, 0xF002, 0xF003, 0xF004, 0xF005))


def _replay_container_children(
    raw: bytes, body_size: int, type_code: int, depth: int = 0
) -> None:
    """RegularContainer.cs:25-47 replay: children parse eagerly from the
    container's RawData until the DECLARED body size is consumed; an
    8-byte child header that runs past the (possibly clamped) RawData
    throws EndOfStream from the MemoryStream reader. Depth-capped at 64
    (documented deviation: the reference would recurse until C#'s stack
    limit; a crafted deep nest must not crash the extractor)."""
    import struct as _struct

    if type_code not in _CONTAINER_TYPE_CODES or depth >= 64:
        return
    mpos = 0
    consumed = 0
    children = 0
    while consumed < body_size:
        children += 1
        if children % 256 == 0:
            check_deadline()
        if mpos + 8 > len(raw):
            raise PictureParseError(_EOS_MSG)
        _ver, tc, sz = _struct.unpack_from("<HHI", raw, mpos)
        mpos += 8
        child_raw = raw[mpos : mpos + sz]  # ReadBytes: clamps, no throw
        mpos += len(child_raw)
        _replay_container_children(child_raw, sz, tc, depth + 1)
        consumed += 8 + sz  # readSize += child.TotalSize (declared size)


class DocumentMapping:
    """Base mapping (DocumentMapping.cs). ``kind`` stands in for the C#
    GetType() checks: main|footnotes|endnotes|comments|header|footer|textbox
    |glossary."""

    def __init__(
        self,
        doc: WordBinaryDocument,
        writer: TextEventWriter,
        extract_urls: bool = True,
        kind: str = "main",
        shared_state: dict | None = None,
    ):
        self.doc = doc
        self.w = writer
        self.extract_urls = extract_urls
        self.kind = kind
        self._last_valid_papx: list | None = None
        self._skip_runs = 0
        self._section_nr = 0
        self._write_instr_text = False
        # shared across the mappings of one conversion (reference statics /
        # ConversionContext): textbox sequence counter
        self.shared = shared_state if shared_state is not None else {"textbox_count": 0}

    # -- helpers ---------------------------------------------------------------

    def find_valid_papx(self, fc: int | None):
        """DocumentMapping.cs:1766-1781 — exact dict hit else carry last."""
        if fc is not None and fc in self.doc.all_papx:
            self._last_valid_papx = self.doc.all_papx[fc]
            return self._last_valid_papx
        return self._last_valid_papx

    def is_section_end(self, cp: int) -> bool:
        return (cp + 1) in self.doc.section_plex.cps

    def _cp_to_fc(self, cp: int) -> int:
        fc = self.doc.piece_table.cp_to_fc(cp)
        if fc is None:
            raise ParseFailure(f"The given key '{cp}' was not present in the dictionary.")
        return fc

    # -- table conversion (DocumentMapping.cs:60-510) ---------------------------

    def write_table(self, initial_cp: int, nesting_level: int) -> int:
        doc = self.doc
        cp = initial_cp
        fc = self._cp_to_fc(cp)
        papx = self.find_valid_papx(fc)
        tai = TableInfo(papx)

        self.w.start_element("w", "tbl")
        guard = 0
        if nesting_level > 1:
            while tai.itap == nesting_level:
                check_deadline()
                cp = self.write_table_row(cp, nesting_level)
                fc = self._cp_to_fc(cp)
                papx = self.find_valid_papx(fc)
                tai = TableInfo(papx)
                guard += 1
                if guard > len(doc.text) + 16:
                    break
        else:
            while tai.f_in_table:
                check_deadline()
                cp = self.write_table_row(cp, nesting_level)
                fc = doc.piece_table.cp_to_fc(cp)
                if fc is None:
                    break
                papx = self.find_valid_papx(fc)
                tai = TableInfo(papx)
                guard += 1
                if guard > len(doc.text) + 16:
                    break
        self.w.end_element()
        return cp

    def write_table_row(self, initial_cp: int, nesting_level: int) -> int:
        doc = self.doc
        cp = initial_cp
        fc = doc.piece_table.cp_to_fc(cp)
        if fc is None:
            return cp + 1
        papx = self.find_valid_papx(fc)
        tai = TableInfo(papx)

        self.w.start_element("w", "tr")
        guard = 0
        if nesting_level > 1:
            while not (
                cp < len(doc.text)
                and doc.text[cp] == PARAGRAPH_END
                and tai.f_inner_ttp
            ) and tai.f_in_table:
                check_deadline()
                cp = self.write_table_cell(cp, nesting_level)
                fc = doc.piece_table.cp_to_fc(cp)
                if fc is None:
                    break
                papx = self.find_valid_papx(fc)
                tai = TableInfo(papx)
                guard += 1
                if guard > len(doc.text) + 16 or cp >= len(doc.text):
                    break
        else:
            while not (
                cp < len(doc.text) and doc.text[cp] == CELL_OR_ROW and tai.f_ttp
            ) and tai.f_in_table:
                check_deadline()
                cp = self.write_table_cell(cp, nesting_level)
                fc = doc.piece_table.cp_to_fc(cp)
                if fc is None:
                    break
                papx = self.find_valid_papx(fc)
                tai = TableInfo(papx)
                guard += 1
                if guard > len(doc.text) + 16 or cp >= len(doc.text):
                    break
        self.w.end_element()
        return cp + 1  # skip the row end mark

    def write_table_cell(self, initial_cp: int, nesting_level: int) -> int:
        doc = self.doc
        cp = initial_cp
        self.w.start_element("w", "tc")
        cp_cell_end = self.find_cell_end_cp(initial_cp, nesting_level)
        while cp < cp_cell_end:
            check_deadline()
            if not doc.piece_table.contains_cp(cp):
                break
            fc = self._cp_to_fc(cp)
            papx = self.find_valid_papx(fc)
            tai = TableInfo(papx)
            last_cp = cp
            if tai.itap > nesting_level:
                cp = self.write_table(cp, tai.itap)
            else:
                cp = self.write_paragraph(cp)
            if last_cp == cp:
                cp += 1
        self.w.end_element()
        return cp

    def find_cell_end_cp(self, initial_cp: int, nesting_level: int) -> int:
        doc = self.doc
        cp_cell_end = initial_cp
        if nesting_level > 1:
            fc = self._cp_to_fc(initial_cp)
            papx = self.find_valid_papx(fc)
            tai = TableInfo(papx)
            steps = 0
            while not tai.f_inner_table_cell:
                cp_cell_end += 1
                fc = self._cp_to_fc(cp_cell_end)
                papx = self.find_valid_papx(fc)
                tai = TableInfo(papx)
                steps += 1
                if steps & 0x3FF == 0:
                    check_deadline()
            cp_cell_end += 1
        else:
            # C-speed replacement for the reference's per-char forward scan
            # (DocumentMapping.cs find-cell-end loop): first CELL_OR_ROW at or
            # after initial_cp, exclusive end one past it.
            hit = doc.text.find(CELL_OR_ROW, cp_cell_end)
            cp_cell_end = (hit if hit >= 0 else len(doc.text)) + 1
        return cp_cell_end

    # -- paragraph / run conversion (DocumentMapping.cs:512-800) -----------------

    def write_paragraph(self, cp: int) -> int:
        doc = self.doc
        text = doc.text
        n = len(text)
        cp_para_end = cp
        if cp >= n:
            return cp_para_end + 1
        # regex scan for the next paragraph/cell/section boundary (the
        # reference's per-char while loop, DocumentMapping.cs:526-536, made
        # C-speed; \x0c only terminates when it is a section end)
        while cp_para_end < n:
            m = _PARA_BOUNDARY_RE.search(text, cp_para_end)
            if m is None:
                cp_para_end = n
                break
            cp_para_end = m.start()
            if text[cp_para_end] != PAGE_BREAK_OR_SECTION or self.is_section_end(
                cp_para_end
            ):
                break
            cp_para_end += 1
        if cp_para_end >= n:
            cp_para_end = n - 1
        if text[cp_para_end] == PAGE_BREAK_OR_SECTION:
            section_end = self.is_section_end(cp_para_end)
            cp_para_end += 1
            return self._write_paragraph_range(cp, cp_para_end, section_end)
        cp_para_end += 1
        return self._write_paragraph_range(cp, cp_para_end, False)

    def _write_paragraph_range(
        self, initial_cp: int, cp_end: int, section_end: bool
    ) -> int:
        doc = self.doc
        cp = initial_cp
        fc = self._cp_to_fc(cp)
        fc_end = self._cp_to_fc(cp_end)
        self.find_valid_papx(fc)
        papx = self._last_valid_papx

        chpxs = doc.get_chpxs(fc, fc_end)
        chpx_fcs = doc.get_chpx_fcs(fc, fc_end)
        chpx_fcs.append(fc_end)

        if not chpxs:
            chpxs = [[]]
            chpx_fcs = [fc, fc_end]

        self.w.start_element("w", "p")

        if section_end:
            # ParagraphPropertiesMapping with a SEPX converts the section's
            # headers/footers into the main writer
            # (DocumentMapping.cs:598-612, SectionPropertiesMapping.cs:144-199)
            if papx is not None and self._find_valid_sepx(cp_end):
                self._write_section_headers_footers(self._section_nr)
            self._section_nr += 1

        # first pass: per-range char extraction (cached for the write pass)
        ranges: list[tuple[int, int]] = []
        for i in range(len(chpxs)):
            if i + 1 >= len(chpx_fcs):
                break
            fc_start = chpx_fcs[i]
            fc_stop = chpx_fcs[i + 1]
            if i == 0 and fc_start < fc:
                fc_start = fc
            if i == len(chpxs) - 1 and fc_stop > fc_end:
                fc_stop = fc_end
            ranges.append((fc_start, fc_stop))
        cached = [
            doc.piece_table.get_chars(a, b, doc.word_stream) for (a, b) in ranges
        ]
        total_valid = sum(len(c) for c in cached)

        expected = cp_end - initial_cp
        use_fallback = False
        if expected > 3 and total_valid < max(expected // 2, 3):
            use_fallback = True
        elif (
            expected > 10
            and doc.fib.c_quick_saves > 0
            and total_valid < expected
        ):
            is_table_para = papx is not None and TableInfo(papx).f_in_table
            if len(doc.piece_table.pieces) > 1 or is_table_para:
                use_fallback = True

        if use_fallback:
            chars = doc.text[initial_cp : initial_cp + expected]
            chars = self.process_hyperlink_fields_in_fallback(chars)
            if chpxs:
                cp = self.write_run(chars, chpxs[0], cp)
        else:
            for i, chars in enumerate(cached):
                if not chars:
                    continue
                cp = self.write_run(chars, chpxs[i], cp)

        self.w.end_element()
        return cp_end

    def write_run(self, chars: str, chpx: list, initial_cp: int) -> int:
        cp = initial_cp
        if self._skip_runs <= 0 and chars:
            deleted = revision_is_deleted(chpx)
            if deleted:
                self.w.start_element("w", "del")
            self.w.start_element("w", "r")
            self.write_text(chars, cp, chpx, deleted)
            self.w.end_element()
            if deleted:
                self.w.end_element()
        else:
            self._skip_runs -= 1
        return cp + len(chars)

    # -- character dispatch (DocumentMapping.cs:1033-1392) ------------------------

    def write_text(
        self, chars: str, initial_cp: int, chpx: list, write_deleted: bool
    ) -> None:
        w = self.w
        cp = initial_cp
        f_spec = is_special(chpx)

        text_type = "t"
        if write_deleted:
            text_type = "delText"
        elif self._write_instr_text:
            text_type = "instrText"

        # fast path: plain visible text, nothing special to dispatch on
        if not f_spec and text_type == "t" and _is_plain(chars):
            w.text_element(_map_win1252_c1(chars))
            return

        w.start_element("w", text_type)

        doc = self.doc
        stop_re = _DISPATCH_STOP_SPEC_RE if f_spec else _DISPATCH_STOP_RE
        n_chars = len(chars)
        i = 0
        while i < n_chars:
            c = chars[i]
            # bulk-write the plain span up to the next dispatchable char
            # (keeps the per-char Python loop off the common path)
            if c > "\x1f" and c != "￿" and not (f_spec and c == SYMBOL):
                m = stop_re.search(chars, i + 1)
                j = m.start() if m else n_chars
                w.write_string(_map_win1252_c1(chars[i:j]))
                cp += j - i
                i = j
                continue
            if c == TAB:
                w.end_element()
                w.element_string("w", "tab")
                w.start_element("w", text_type)
            elif c == HARD_LINE_BREAK:
                w.end_element()
                w.element_string("w", "br")
                w.start_element("w", text_type)
            elif c == PARAGRAPH_END:
                w.write_string(c)  # C# WriteChar: lands in w:t content
            elif c == PAGE_BREAK_OR_SECTION:
                if not self.is_section_end(cp):
                    w.end_element()
                    w.start_element("w", "br")
                    w.attribute("w", "type", "page")
                    w.end_element()
                    w.start_element("w", text_type)
            elif c == COLUMN_BREAK:
                w.end_element()
                w.start_element("w", "br")
                w.attribute("w", "type", "column")
                w.end_element()
                w.start_element("w", text_type)
            elif c == FIELD_BEGIN:
                w.end_element()
                cp_field_start = initial_cp + i
                cp_field_end = _search_next(doc.text, cp_field_start, FIELD_END)
                field_code = _parse_field_code(
                    doc.text[cp_field_start : cp_field_end + 1]
                )
                if field_code is not None and (
                    field_code.startswith(" EMBED") or field_code.startswith(" LINK")
                ):
                    # w:object — no fldChar begin, so the writer never enters
                    # field mode (DocumentMapping.cs:1133-1165)
                    w.start_element("w", "object")
                    # the reference parses the embedded object's PICT here
                    # with unguarded Data-stream reads (DocumentMapping.cs:
                    # 1135-1146) — reproduce the read bounds for error parity
                    cp_pic = _search_next(doc.text, cp_field_start, PICTURE)
                    if cp_pic < cp_field_end:
                        fc_pic = doc.piece_table.cp_to_fc(cp_pic)
                        if fc_pic is not None:
                            chpxs_pic = doc.get_chpxs(fc_pic, fc_pic + 1)
                            if chpxs_pic:
                                _picture_error_parity(
                                    chpxs_pic[0], doc.data_stream
                                )
                    w.end_element()
                else:
                    w.start_element("w", "fldChar")
                    w.attribute("w", "fldCharType", "begin")
                    w.end_element()
                self._write_instr_text = True
                text_type = "instrText"
                w.start_element("w", text_type)
                if field_code is not None:
                    w.write_string(field_code)
            elif c == FIELD_SEP:
                w.end_element()
                w.start_element("w", "fldChar")
                w.attribute("w", "fldCharType", "separate")
                w.end_element()
                self._write_instr_text = False
                text_type = "t"
                w.start_element("w", text_type)
            elif c == FIELD_END:
                w.end_element()
                w.start_element("w", "fldChar")
                w.attribute("w", "fldCharType", "end")
                w.end_element()
                self._write_instr_text = False
                text_type = "t"
                w.start_element("w", "t")
            elif c == SYMBOL and f_spec:
                w.end_element()
                sym = get_symbol(chpx)
                if sym is not None:
                    font_index, code = sym
                    font_name = (
                        doc.font_names[font_index]
                        if 0 <= font_index < len(doc.font_names)
                        else None
                    )
                    if font_name is not None:
                        w.start_element("w", "sym")
                        w.attribute("w", "font", font_name)
                        w.attribute("w", "char", format(code & 0xFFFF, "04x"))
                        w.end_element()
                w.start_element("w", text_type)
            elif c == DRAWN_OBJECT and f_spec:
                if self.kind in ("main", "header", "footer"):
                    content = self._extract_textbox_for_cp(cp)
                    if content:
                        w.write_string(content)
            elif c == PICTURE and f_spec:
                # picture elements carry no text (DocumentMapping.cs:1290-1315)
                # but the reference's PictureDescriptor reads are unguarded —
                # reproduce their bounds behavior for error parity
                _picture_error_parity(chpx, doc.data_stream)
            elif c == AUTO_FOOTNOTE_REF and f_spec:
                w.end_element()
                w.start_element("w", text_type)
            elif c == ANNOTATION_REF:
                w.end_element()
                w.start_element("w", text_type)
            cp += 1
            i += 1

        w.end_element()

    # -- textboxes (DocumentMapping.cs:1206-1288, 1492-1572; TextboxMapping.cs) ---

    def _extract_textbox_for_cp(self, cp: int) -> str:
        doc = self.doc
        try:
            if self.kind == "main":
                fspa = doc.office_drawing_plex.get_struct(cp)
            else:
                header_cp = cp - doc.fib.ccp_text - doc.fib.ccp_ftn
                fspa = doc.office_drawing_plex_header.get_struct(header_cp)
            if fspa is None or len(fspa) < 4 or doc.office_art is None:
                return ""
            import struct as _struct

            spid = _struct.unpack_from("<i", fspa, 0)[0]
            shape = doc.office_art.get_shape_container(spid)
            if shape is None:
                return ""
            textbox = shape.first_child(OfficeArt.CLIENT_TEXTBOX)
            if textbox is not None and len(textbox.data) >= 4:
                idx = _struct.unpack_from("<h", textbox.data, 2)[0] - 1
                return self._extract_textbox_text(idx)
            opt = shape.first_child(OfficeArt.OPT)
            if opt is not None and _opt_has_ltxid(opt.data):
                return self._extract_textbox_text(self.shared["textbox_count"])
        except DocumentTimeout:
            raise
        except Exception:
            return ""
        return ""

    def _extract_textbox_text(self, textbox_index: int) -> str:
        """extractTextboxText (DocumentMapping.cs:1542-1572): run a
        TextboxMapping over a temporary writer; trim the result."""
        doc = self.doc
        temp = TextEventWriter(True)
        self.shared["textbox_count"] += 1
        try:
            sub = DocumentMapping(
                doc, temp, self.extract_urls, kind="textbox", shared_state=self.shared
            )
            sub.apply_textbox(textbox_index)
            return temp.to_string().strip()
        except DocumentTimeout:
            raise
        except Exception:
            return ""

    def apply_textbox(self, textbox_index: int) -> None:
        """TextboxMapping.Apply (TextboxMapping.cs:30-107), plain-text path."""
        doc = self.doc
        fib = doc.fib
        start = (
            fib.ccp_text + fib.ccp_ftn + fib.ccp_hdr + fib.ccp_atn + fib.ccp_edn
        )
        plex = doc.textbox_break_plex
        if textbox_index < 0 or textbox_index + 1 >= len(plex.cps):
            return
        cp = start + plex.cps[textbox_index]
        cp_end = start + plex.cps[textbox_index + 1]
        if doc.papx_fkps and doc.papx_fkps[0].grppapx:
            self._last_valid_papx = doc.papx_fkps[0].grppapx[0]
        while cp < cp_end:
            check_deadline()
            fc = self._cp_to_fc(cp)
            papx = self.find_valid_papx(fc)
            tai = TableInfo(papx)
            last = cp
            if tai.f_in_table:
                cp = self.write_table(cp, tai.itap)
            else:
                cp = self.write_paragraph(cp)
            if cp == last:
                cp += 1

    # -- headers & footers (SectionPropertiesMapping.cs:144-199) -------------------

    def _find_valid_sepx(self, cp: int) -> bool:
        """findValidSepx (DocumentMapping.cs:1794-1824): exact AllSepx hit,
        else previous-section fallback. Only existence matters for text."""
        doc = self.doc
        if cp in doc.all_sepx:
            return True
        if len(doc.section_plex.cps) < 2:
            raise ParseFailure("Index was out of range.")
        last_key = doc.section_plex.cps[1]
        for key in doc.all_sepx:
            if last_key < cp < key:
                return last_key in doc.all_sepx
            last_key = key
        return False

    def _write_section_headers_footers(self, section_nr: int) -> None:
        hft = self.doc.header_footer
        if hft is None:
            return
        depth = self.shared.get("hdr_depth", 0)
        if depth > 2:
            return  # corrupt-input recursion guard (not reachable in valid docs)
        self.shared["hdr_depth"] = depth + 1
        try:
            if hft.odd_headers and section_nr < len(hft.odd_headers):
                for rng, tag in (
                    (hft.even_headers[section_nr], "hdr"),
                    (hft.odd_headers[section_nr], "hdr"),
                    (hft.first_headers[section_nr], "hdr"),
                ):
                    if rng is not None:
                        self._apply_header_footer(rng, tag, "header")
            if hft.odd_footers and section_nr < len(hft.odd_footers):
                for rng, tag in (
                    (hft.even_footers[section_nr], "ftr"),
                    (hft.odd_footers[section_nr], "ftr"),
                    (hft.first_footers[section_nr], "ftr"),
                ):
                    if rng is not None:
                        self._apply_header_footer(rng, tag, "footer")
        finally:
            self.shared["hdr_depth"] = depth

    def _apply_header_footer(
        self, rng: tuple[int, int], tag: str, kind: str
    ) -> None:
        """HeaderMapping.Apply / FooterMapping.Apply over a CP range; the
        trailing guard paragraph mark is not converted."""
        doc = self.doc
        if not doc.papx_fkps or not doc.papx_fkps[0].grppapx:
            return
        sub = DocumentMapping(doc, self.w, self.extract_urls, kind, self.shared)
        self.w.start_element("w", tag)
        sub._last_valid_papx = doc.papx_fkps[0].grppapx[0]
        cp, count = rng
        cp_max = cp + count - 1
        while cp < cp_max:
            check_deadline()
            fc = sub._cp_to_fc(cp)
            papx = sub.find_valid_papx(fc)
            if papx is None:
                cp += 1
                continue
            tai = TableInfo(papx)
            last = cp
            if tai.f_in_table:
                cp = sub.write_table(cp, tai.itap)
            else:
                cp = sub.write_paragraph(cp)
            if cp == last:
                cp += 1
        self.w.end_element()

    # -- fallback hyperlink processing (DocumentMapping.cs:874-1030) --------------

    def process_hyperlink_fields_in_fallback(self, text: str) -> str:
        if not self.extract_urls:
            return _remove_hyperlink_field_codes(text)

        def repl1(m: re.Match) -> str:
            url, display = m.group(1), m.group(2).strip()
            if display:
                return f"{display} ({url} \\h)"
            return f"{url} (\\h)"

        processed = re.sub(
            '\x13HYPERLINK\\s+"([^"]+)"\\s*\\\\h\x14([^\x15]*)\x15', repl1, text
        )

        def repl2(m: re.Match) -> str:
            url, display = m.group(1), m.group(2).strip()
            if display.endswith("."):
                display = display[:-1]
            if display:
                return f"{display} ({url})"
            return url

        processed = re.sub(
            'HYPERLINK\\s+"([^"]+)"([^↵]+?)(?=\\.?↵|\\.?\\s*$)', repl2, processed
        )

        def repl3(m: re.Match) -> str:
            bookmark, display = m.group(1), m.group(2).strip()
            if display:
                return f'{display} (\\l "{bookmark}")'
            return f'\\l "{bookmark}"'

        processed = re.sub(
            '\x13HYPERLINK\\s+\\\\l\\s+"([^"]+)"\x14([^\x15]*)\x15', repl3, processed
        )
        processed = re.sub(
            'HYPERLINK\\s+\\\\l\\s+"([^"]+)"\\s+([^H\\\\]+?)(?=\\s+HYPERLINK|\\s+\\\\l|\\s*$)',
            repl3,
            processed,
        )

        out = []
        last = 0
        for m in re.finditer('\\\\l\\s+"([^"]+)"', processed):
            out.append(processed[last : m.start()])
            if m.start() > 0 and processed[m.start() - 1] == "(":
                out.append(m.group(0))
            else:
                out.append(f'(\\l "{m.group(1)}")')
            last = m.end()
        out.append(processed[last:])
        return "".join(out)


def _remove_hyperlink_field_codes(text: str) -> str:
    """RemoveHyperlinkFieldCodes (DocumentMapping.cs:1000-1030)."""

    def repl(m: re.Match) -> str:
        remaining = text[m.end() :]
        dm = re.match(r"^([^.]*?)\.?", remaining)
        return dm.group(1).strip() if dm else ""

    return re.sub('HYPERLINK\\s+"([^"]+)"', repl, text)


def _opt_has_ltxid(data: bytes) -> bool:
    """Walk OfficeArtFOPT property entries looking for lTxid (pid 128)."""
    import struct as _struct

    pos = 0
    while pos + 6 <= len(data):
        (pid_flags,) = _struct.unpack_from("<H", data, pos)
        if (pid_flags & 0x3FFF) == 128:
            return True
        pos += 6
    return False


def _search_next(text: str, initial_cp: int, mark: str) -> int:
    """searchNextTextMark (DocumentMapping.cs:1645-1658): position of the next
    mark, or ``initial_cp`` when absent."""
    idx = text.find(mark, initial_cp)
    return idx if idx >= 0 else initial_cp


_PLAIN_RE = re.compile("^[^\x00-\x1f￿]*$")


def _is_plain(chars: str) -> bool:
    return bool(_PLAIN_RE.match(chars))


# -- subdocument drivers --------------------------------------------------------


def apply_main(m: DocumentMapping) -> None:
    """MainDocumentMapping.Apply (MainDocumentMapping.cs:20-178)."""
    doc = m.doc
    m.w.start_element("w", "document")
    m.w.start_element("w", "body")
    if doc.papx_fkps and doc.papx_fkps[0].grppapx:
        m._last_valid_papx = doc.papx_fkps[0].grppapx[0]
    else:
        m._last_valid_papx = []
    cp = 0
    while cp < doc.fib.ccp_text:
        check_deadline()
        last_cp = cp
        if not doc.piece_table.contains_cp(cp):
            cp += 1
            continue
        fc = doc.piece_table.cp_to_fc(cp)
        papx = m.find_valid_papx(fc)
        tai = TableInfo(papx)
        if tai.f_in_table:
            cp = m.write_table(cp, tai.itap)
        else:
            cp = m.write_paragraph(cp)
        if cp == last_cp:
            cp += 1
    # final section properties with the last SEPX (MainDocumentMapping.cs:157-166)
    if m.doc.all_sepx:
        m._write_section_headers_footers(m._section_nr)
    m.w.end_element()
    m.w.end_element()


def apply_footnotes(m: DocumentMapping) -> None:
    doc = m.doc
    m.w.start_element("w", "footnotes")
    cp = doc.fib.ccp_text
    n_text = len(doc.text)
    while cp < doc.fib.ccp_text + doc.fib.ccp_ftn - 2:
        check_deadline()
        if cp >= n_text:
            # past the decoded text every writeParagraph call is a no-op that
            # advances cp by 1 (DocumentMapping.cs:522-526) and the wrapping
            # footnote element emits no text: skip the churn, same output
            break
        m.w.start_element("w", "footnote")
        cp = m.write_paragraph(cp)
        m.w.end_element()
    m.w.end_element()


def apply_endnotes(m: DocumentMapping) -> None:
    doc = m.doc
    m.w.start_element("w", "endnotes")
    fib = doc.fib
    cp = fib.ccp_text + fib.ccp_ftn + fib.ccp_hdr + fib.ccp_atn
    cp_end = cp + fib.ccp_edn - 2
    n_text = len(doc.text)
    while cp < cp_end:
        check_deadline()
        if cp >= n_text:
            break  # see apply_footnotes: pure no-op churn past text end
        m.w.start_element("w", "endnote")
        cp = m.write_paragraph(cp)
        m.w.end_element()
    m.w.end_element()


def apply_glossary(m: DocumentMapping) -> None:
    """GlossaryMapping.Apply (GlossaryMapping.cs:15-79): one docPart per
    AutoText range of the glossary subdocument; only the docPartBody
    paragraph contributes text."""
    doc = m.doc
    m.w.start_element("w", "glossaryDocument")
    m.w.start_element("w", "docParts")
    cps = doc.autotext_plex.cps
    for i in range(max(0, len(cps) - 2)):
        cp_start, cp_end = cps[i], cps[i + 1]
        m.w.start_element("w", "docPart")
        m.w.start_element("w", "docPartBody")
        try:
            if cp_end > cp_start and doc.piece_table.contains_cp(cp_start):
                m._write_paragraph_range(cp_start, cp_end, False)
        except DocumentTimeout:
            raise
        except Exception:
            pass  # glossary damage must not fail the document
        m.w.end_element()
        m.w.end_element()
    m.w.end_element()
    m.w.end_element()


def apply_comments(m: DocumentMapping) -> None:
    doc = m.doc
    m.w.start_element("w", "comments")
    fib = doc.fib
    cp = fib.ccp_text + fib.ccp_ftn + fib.ccp_hdr
    for _ in doc.annotation_ref_plex.elements:
        m.w.start_element("w", "comment")
        cp = m.write_paragraph(cp)
        m.w.end_element()
    m.w.end_element()
