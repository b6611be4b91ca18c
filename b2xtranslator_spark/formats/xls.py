"""XLS (BIFF8/BIFF5) cell-text extraction.

From-scratch [MS-XLS] walk with the same structure as the reference's
extractors (/root/reference/Xls/XlsFileFormat/XlsDocument.cs:40-59,
DataExtraction/WorkbookExtractor.cs:55-268,
DataExtraction/WorksheetExtractor.cs:41-255, Records/SST.cs:38-250):

- open the ``Workbook`` stream, falling back to ``Book`` (XlsDocument.cs:45-56)
- reject encrypted workbooks on FilePass (WorkbookExtractor.cs:251-252)
- record walk: (u16 id, u16 length) headers; unknown records skipped by
  length (WorkbookExtractor.cs:260-266)
- SST with Continue stitching, per-string compressed/UTF-16 flag, rich/ext
  run skipping (SST.cs:74-219)
- per BoundSheet8: seek lbPlyPos, collect text-bearing cells (LabelSst,
  Label, Number, RK, MulRk, Formula + cached String, BoolErr)

Output: sheet-ordered text, one row per line, cells tab-separated.
"""

from __future__ import annotations

import struct

from .cfb import CompoundFile

# record ids
R_BOF = 0x0809
R_EOF = 0x000A
R_BOUNDSHEET = 0x0085
R_SST = 0x00FC
R_CONTINUE = 0x003C
R_FILEPASS = 0x002F
R_LABELSST = 0x00FD
R_LABEL = 0x0204
R_LABEL_B5 = 0x0004
R_NUMBER = 0x0203
R_NUMBER_B2 = 0x0003
R_RK = 0x027E
R_MULRK = 0x00BD
R_FORMULA = 0x0006
R_STRING = 0x0207
R_BOOLERR = 0x0205
R_RSTRING = 0x00D6


_BIFF_ERRORS = {
    0x00: "#NULL!", 0x07: "#DIV/0!", 0x0F: "#VALUE!", 0x17: "#REF!",
    0x1D: "#NAME?", 0x24: "#NUM!", 0x2A: "#N/A",
}


class EncryptedWorkbookError(ValueError):
    def __init__(self) -> None:
        super().__init__("The file is encrypted and cannot be processed.")


def _records(stream: bytes):
    """BIFF record walk: (id, payload-offset, length)."""
    pos = 0
    n = len(stream)
    while pos + 4 <= n:
        rid, length = struct.unpack_from("<HH", stream, pos)
        if rid == 0 and length == 0:
            break
        yield rid, pos + 4, min(length, n - pos - 4)
        pos += 4 + length


def _xl_unicode_string(data: bytes, pos: int, boundaries: list[int]) -> tuple[str, int]:
    """XLUnicodeRichExtendedString inside the (stitched) SST byte blob.

    ``boundaries`` are offsets where Continue records began: a string crossing
    one re-reads the compression flag there (SST.cs:99-140)."""
    (cch,) = struct.unpack_from("<H", data, pos)
    flags = data[pos + 2]
    pos += 3
    f_high = flags & 0x01
    f_ext = flags & 0x04
    f_rich = flags & 0x08
    c_run = 0
    cb_ext = 0
    if f_rich:
        (c_run,) = struct.unpack_from("<H", data, pos)
        pos += 2
    if f_ext:
        (cb_ext,) = struct.unpack_from("<i", data, pos)
        pos += 4
    out: list[str] = []
    remaining = cch
    while remaining > 0:
        # chars until the next continue boundary
        nxt = next((b for b in boundaries if b > pos), len(data))
        if f_high:
            avail = (nxt - pos) // 2
            take = min(remaining, avail)
            out.append(data[pos : pos + take * 2].decode("utf-16-le", "replace"))
            pos += take * 2
        else:
            avail = nxt - pos
            take = min(remaining, avail)
            out.append(data[pos : pos + take].decode("latin-1"))
            pos += take
        remaining -= take
        if remaining > 0:
            if pos >= len(data):
                break
            # string continues into the next Continue record: fresh flag byte
            f_high = data[pos] & 0x01
            pos += 1
    pos += c_run * 4 + cb_ext
    return "".join(out), pos


def _parse_sst(blob: bytes, boundaries: list[int]) -> list[str]:
    if len(blob) < 8:
        return []
    (cst_unique,) = struct.unpack_from("<i", blob, 4)
    strings: list[str] = []
    pos = 8
    for _ in range(max(0, cst_unique)):
        if pos + 3 > len(blob):
            break
        try:
            s, pos = _xl_unicode_string(blob, pos, boundaries)
        except (struct.error, IndexError):
            break
        strings.append(s)
    return strings


def _fmt_number(value: float) -> str:
    if value == int(value) and abs(value) < 1e15:
        return str(int(value))
    return repr(value)


def _decode_rk(rk: int) -> float:
    f_x100 = rk & 0x01
    f_int = rk & 0x02
    if f_int:
        v = float(struct.unpack("<i", struct.pack("<I", rk & 0xFFFFFFFF))[0] >> 2)
    else:
        v = struct.unpack("<d", b"\x00\x00\x00\x00" + struct.pack("<I", rk & 0xFFFFFFFC))[0]
    return v / 100.0 if f_x100 else v


def _short_string(data: bytes, pos: int, biff8: bool) -> str:
    """Sheet-name style string: 1-byte cch (+flag byte in BIFF8)."""
    if pos >= len(data):
        return ""
    cch = data[pos]
    if biff8:
        flags = data[pos + 1] if pos + 1 < len(data) else 0
        if flags & 0x01:
            return data[pos + 2 : pos + 2 + cch * 2].decode("utf-16-le", "replace")
        return data[pos + 2 : pos + 2 + cch].decode("latin-1")
    return data[pos + 1 : pos + 1 + cch].decode("latin-1")


def extract_xls_text_parts(storage: CompoundFile) -> tuple[str, int]:
    # Workbook, falling back to Book (XlsDocument.cs:45-56)
    if storage.has_stream("Workbook"):
        stream = storage.get_stream("Workbook")
    elif storage.has_stream("Book"):
        stream = storage.get_stream("Book")
    else:
        raise KeyError("Stream with name 'Workbook' not found.")

    recs = list(_records(stream))
    # global pass: encryption, SST (+Continue stitching), sheet offsets
    sst: list[str] = []
    sheets: list[tuple[str, int]] = []
    i = 0
    while i < len(recs):
        rid, off, length = recs[i]
        if rid == R_FILEPASS:
            raise EncryptedWorkbookError()
        if rid == R_BOUNDSHEET:
            (lb_ply_pos,) = struct.unpack_from("<I", stream, off)
            dt = stream[off + 5] if length > 5 else 0
            name = _short_string(stream, off + 6, True)
            if dt == 0x00:  # worksheet
                sheets.append((name, lb_ply_pos))
            i += 1
            continue
        if rid == R_SST:
            blob = bytearray(stream[off : off + length])
            boundaries: list[int] = []
            j = i + 1
            while j < len(recs) and recs[j][0] == R_CONTINUE:
                boundaries.append(len(blob))
                _, c_off, c_len = recs[j]
                blob += stream[c_off : c_off + c_len]
                j += 1
            sst = _parse_sst(bytes(blob), boundaries)
            i = j
            continue
        i += 1

    n_records = len(recs)
    out_rows: list[str] = []
    for name, lb_ply_pos in sheets:
        cells: dict[tuple[int, int], str] = {}
        pending_formula_cell: tuple[int, int] | None = None
        depth = 0
        for rid, off, length in _records(stream[lb_ply_pos:]):
            if rid == R_BOF:
                depth += 1
                if depth > 1:
                    break  # ran into an embedded substream
                continue
            if rid == R_EOF:
                break
            try:
                if rid == R_LABELSST and length >= 10:
                    rw, col, _ixfe, isst = struct.unpack_from(
                        "<HHHi", stream, lb_ply_pos + off
                    )
                    if 0 <= isst < len(sst):
                        cells[(rw, col)] = sst[isst]
                elif rid in (R_LABEL, R_LABEL_B5) and length >= 8:
                    rw, col, _ixfe = struct.unpack_from("<HHH", stream, lb_ply_pos + off)
                    base = lb_ply_pos + off + 6
                    (cch,) = struct.unpack_from("<H", stream, base)
                    flags = stream[base + 2] if rid == R_LABEL else 0
                    if rid == R_LABEL and flags & 0x01:
                        text = stream[base + 3 : base + 3 + cch * 2].decode(
                            "utf-16-le", "replace"
                        )
                    elif rid == R_LABEL:
                        text = stream[base + 3 : base + 3 + cch].decode("latin-1")
                    else:
                        text = stream[base + 2 : base + 2 + cch].decode("latin-1")
                    cells[(rw, col)] = text
                elif rid in (R_NUMBER, R_NUMBER_B2) and length >= 14:
                    rw, col, _ixfe = struct.unpack_from("<HHH", stream, lb_ply_pos + off)
                    (value,) = struct.unpack_from("<d", stream, lb_ply_pos + off + 6)
                    cells[(rw, col)] = _fmt_number(value)
                elif rid == R_RK and length >= 10:
                    rw, col, _ixfe = struct.unpack_from("<HHH", stream, lb_ply_pos + off)
                    (rk,) = struct.unpack_from("<I", stream, lb_ply_pos + off + 6)
                    cells[(rw, col)] = _fmt_number(_decode_rk(rk))
                elif rid == R_MULRK and length >= 12:
                    rw, col_first = struct.unpack_from("<HH", stream, lb_ply_pos + off)
                    (col_last,) = struct.unpack_from(
                        "<H", stream, lb_ply_pos + off + length - 2
                    )
                    n = col_last - col_first + 1
                    for k in range(max(0, n)):
                        rk_off = lb_ply_pos + off + 4 + k * 6 + 2
                        if rk_off + 4 > lb_ply_pos + off + length - 2:
                            break
                        (rk,) = struct.unpack_from("<I", stream, rk_off)
                        cells[(rw, col_first + k)] = _fmt_number(_decode_rk(rk))
                elif rid == R_FORMULA and length >= 22:
                    rw, col = struct.unpack_from("<HH", stream, lb_ply_pos + off)
                    result = stream[lb_ply_pos + off + 6 : lb_ply_pos + off + 14]
                    if result[6:8] == b"\xff\xff":
                        if result[0] == 0:  # string result follows in String rec
                            pending_formula_cell = (rw, col)
                        elif result[0] == 1:  # bool
                            cells[(rw, col)] = "TRUE" if result[2] else "FALSE"
                    else:
                        (value,) = struct.unpack_from("<d", result, 0)
                        cells[(rw, col)] = _fmt_number(value)
                elif rid == R_RSTRING and length >= 8:
                    # RString [MS-XLS 2.4.226]: rich byte-string cell
                    # (BIFF3-7 era, still written by old exporters):
                    # rw, col, ixfe, cch(u16), ANSI chars, formatting runs
                    rw, col, _ixfe = struct.unpack_from("<HHH", stream, lb_ply_pos + off)
                    base = lb_ply_pos + off + 6
                    (cch,) = struct.unpack_from("<H", stream, base)
                    # clamp to the record's declared payload: a crafted cch
                    # larger than length-8 would otherwise read the next
                    # record's bytes as cell text (ADVICE r02)
                    take = min(cch, max(0, length - 8))
                    cells[(rw, col)] = stream[base + 2 : base + 2 + take].decode(
                        "latin-1"
                    )
                elif rid == R_BOOLERR and length >= 8:
                    rw, col, _ixfe = struct.unpack_from("<HHH", stream, lb_ply_pos + off)
                    b_val = stream[lb_ply_pos + off + 6]
                    f_err = stream[lb_ply_pos + off + 7]
                    if f_err:
                        cells[(rw, col)] = _BIFF_ERRORS.get(b_val, "#ERR")
                    else:
                        cells[(rw, col)] = "TRUE" if b_val else "FALSE"
                elif rid == R_STRING and pending_formula_cell is not None:
                    base = lb_ply_pos + off
                    (cch,) = struct.unpack_from("<H", stream, base)
                    flags = stream[base + 2] if length > 2 else 0
                    if flags & 0x01:
                        text = stream[base + 3 : base + 3 + cch * 2].decode(
                            "utf-16-le", "replace"
                        )
                    else:
                        text = stream[base + 3 : base + 3 + cch].decode("latin-1")
                    cells[pending_formula_cell] = text
                    pending_formula_cell = None
            except (struct.error, IndexError):
                continue
        # assemble rows in order
        rows: dict[int, dict[int, str]] = {}
        for (rw, col), text in cells.items():
            rows.setdefault(rw, {})[col] = text
        sheet_lines = [name] if name else []
        for rw in sorted(rows):
            cols = rows[rw]
            sheet_lines.append("\t".join(cols[c] for c in sorted(cols)))
        if sheet_lines:
            out_rows.append("\n".join(sheet_lines))
    return "\n".join(out_rows), n_records
