"""PPT (PowerPoint 97-2003) slide-text extraction.

From-scratch [MS-PPT] walk with the same structure as the reference
(/root/reference/Ppt/PptFileFormat/PowerpointDocument.cs:111-175,452-496;
Common/OfficeDrawing/Record.cs:250-272):

- ``Current User`` stream -> offsetToCurrentEdit
- UserEditAtom chain (offsetLastEdit links) -> persist directory
  (persistId -> stream offset), last-edit-wins
- document container via docPersistIdRef; slides via SlidePersistAtom
  persistIdRef (PowerpointDocument.cs:398-412)
- text lives in TextCharsAtom (4000, UTF-16LE), TextBytesAtom (4008,
  ISO-8859-1 per TextBytesAtom.cs:12), CString (4026)

Falls back to a linear whole-stream record walk when the persist chain is
unparseable (fast-saved/corrupt decks still yield text).
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

from .cfb import CompoundFile

RT_DOCUMENT = 1000
RT_SLIDE = 1006
RT_NOTES = 1008
RT_MAIN_MASTER = 1016
RT_SLIDE_PERSIST_ATOM = 1011
RT_USER_EDIT_ATOM = 4085
RT_PERSIST_DIRECTORY = 6002
RT_SLIDE_LIST_WITH_TEXT = 4080
RT_TEXT_CHARS = 4000
RT_TEXT_BYTES = 4008
RT_CSTRING = 4026


class EncryptedPresentationError(ValueError):
    def __init__(self) -> None:
        super().__init__("The file is encrypted and cannot be processed.")


@dataclass
class Rec:
    ver_inst: int
    type: int
    start: int  # payload start offset in stream
    length: int

    @property
    def is_container(self) -> bool:
        return (self.ver_inst & 0x000F) == 0x000F


def _read_header(stream: bytes, pos: int) -> Rec | None:
    if pos + 8 > len(stream):
        return None
    ver_inst, rtype, length = struct.unpack_from("<HHI", stream, pos)
    return Rec(ver_inst, rtype, pos + 8, min(length, len(stream) - pos - 8))


def _clean(text: str) -> str:
    """PPT text atoms use \\r for paragraph breaks and \\x0b for line breaks."""
    return (
        text.replace("\r", "\n").replace("\x0b", "\n").replace("\x00", "")
    )


def _decode_atom(stream: bytes, rec: Rec) -> str:
    data = stream[rec.start : rec.start + rec.length]
    if rec.type == RT_TEXT_BYTES:
        return _clean(data.decode("latin-1"))
    even = len(data) & ~1
    return _clean(data[:even].decode("utf-16-le", "replace"))


def _collect_text(stream: bytes, pos: int, end: int, out: list[str], depth: int = 0):
    """Depth-first record-tree walk collecting text atoms in order."""
    if depth > 32:
        return
    while pos + 8 <= end:
        rec = _read_header(stream, pos)
        if rec is None or rec.length < 0:
            break
        if rec.type in (RT_TEXT_CHARS, RT_TEXT_BYTES, RT_CSTRING):
            text = _decode_atom(stream, rec)
            if text.strip():
                out.append(text)
        elif rec.is_container:
            _collect_text(stream, rec.start, rec.start + rec.length, out, depth + 1)
        pos = rec.start + rec.length


def _persist_directory(stream: bytes, current_edit_offset: int) -> tuple[dict[int, int], int]:
    """Walk the UserEditAtom chain; newest-first; older directories fill in
    only unseen persist ids (=> last edit wins). Returns (persist map,
    docPersistIdRef of the newest edit)."""
    persist: dict[int, int] = {}
    doc_persist_id = 0
    offset = current_edit_offset
    seen: set[int] = set()
    first = True
    while offset and offset not in seen and offset + 8 <= len(stream):
        seen.add(offset)
        rec = _read_header(stream, offset)
        if rec is None or rec.type != RT_USER_EDIT_ATOM or rec.length < 28:
            break
        (
            _last_slide_id,
            _version,
            offset_last_edit,
            offset_persist_dir,
            doc_persist_ref,
            _persist_id_seed,
        ) = struct.unpack_from("<IIIIII", stream, rec.start)
        if first:
            doc_persist_id = doc_persist_ref
            first = False
        dir_rec = _read_header(stream, offset_persist_dir)
        if dir_rec is not None and dir_rec.type == RT_PERSIST_DIRECTORY:
            pos = dir_rec.start
            dir_end = dir_rec.start + dir_rec.length
            while pos + 4 <= dir_end:
                (word,) = struct.unpack_from("<I", stream, pos)
                persist_id = word & 0x000FFFFF
                count = word >> 20
                pos += 4
                for i in range(count):
                    if pos + 4 > dir_end:
                        break
                    (off,) = struct.unpack_from("<I", stream, pos)
                    # newest edit walked first: keep the first assignment
                    persist.setdefault(persist_id + i, off)
                    pos += 4
        offset = offset_last_edit
    return persist, doc_persist_id


def extract_ppt_text_parts(storage: CompoundFile) -> tuple[str, int]:
    stream = storage.get_stream("PowerPoint Document")

    current_edit = None
    if storage.has_stream("Current User"):
        cu = storage.get_stream("Current User")
        rec = _read_header(cu, 0)
        if rec is not None and rec.length >= 16:
            _size, token, offset_to_current_edit = struct.unpack_from(
                "<III", cu, rec.start
            )
            if token == 0xF3D1C4DF:  # encrypted headerToken
                raise EncryptedPresentationError()
            current_edit = offset_to_current_edit

    parts: list[str] = []
    if current_edit:
        persist, doc_ref = _persist_directory(stream, current_edit)
        doc_off = persist.get(doc_ref)
        if doc_off is not None:
            doc_rec = _read_header(stream, doc_off)
            if doc_rec is not None and doc_rec.type == RT_DOCUMENT:
                # outline text + slide order from SlideListWithText
                slide_ids: list[int] = []
                _walk_doc(stream, doc_rec, parts, slide_ids)
                for pid in slide_ids:
                    off = persist.get(pid)
                    if off is None:
                        continue
                    srec = _read_header(stream, off)
                    if srec is not None and srec.type in (
                        RT_SLIDE,
                        RT_NOTES,
                        RT_MAIN_MASTER,
                    ):
                        _collect_text(
                            stream, srec.start, srec.start + srec.length, parts
                        )
        if parts:
            return "\n".join(parts), len(parts)

    # fallback: linear sweep of top-level records
    out: list[str] = []
    _collect_text(stream, 0, len(stream), out)
    return "\n".join(out), len(out)


def _walk_doc(
    stream: bytes, doc_rec: Rec, parts: list[str], slide_ids: list[int]
) -> None:
    """Inside the DocumentContainer: collect SlideListWithText outline text
    and the slide persist ids in presentation order.

    ALL SlideListWithText instances are walked — slides (instance 0),
    masters (1), and notes (2) — matching the reference's full list walk
    (PowerpointDocument.cs:398-412); notes/master text is part of the
    extraction surface, not just slide bodies."""
    pos = doc_rec.start
    end = doc_rec.start + doc_rec.length
    while pos + 8 <= end:
        rec = _read_header(stream, pos)
        if rec is None:
            break
        if rec.type == RT_SLIDE_LIST_WITH_TEXT:
            inner = rec.start
            inner_end = rec.start + rec.length
            while inner + 8 <= inner_end:
                r = _read_header(stream, inner)
                if r is None:
                    break
                if r.type == RT_SLIDE_PERSIST_ATOM and r.length >= 4:
                    (pid,) = struct.unpack_from("<I", stream, r.start)
                    slide_ids.append(pid)
                elif r.type in (RT_TEXT_CHARS, RT_TEXT_BYTES):
                    text = _decode_atom(stream, r)
                    if text.strip():
                        parts.append(text)
                inner = r.start + r.length
        pos = rec.start + rec.length
