"""Seeded synthetic Word 97 (.doc) documents with planted text.

Two layers, both independent of the program under test:

- ``write_cfb``: a Compound File Binary (v3, 512-byte sectors) writer with
  a mini-stream for streams under 4096 bytes, as many FAT sectors as the
  file needs and DIFAT sectors past the header's 109 slots.
- ``make_doc``: a WordDocument stream (FIB, text, CHPX and PAPX FKP pages)
  plus a 1Table stream (STSH, both bin tables and a CLX whose piece table
  mixes cp1252 and UTF-16LE pieces), optionally a Data stream of
  incompressible bytes standing in for embedded pictures, with the expected
  text returned next to the bytes.

The planted text avoids every character the Word text mapping treats as a
mark (fields, cells, tabs, page breaks) and every byte pattern the cp1252
repair heuristics react to, so the expected text is the paragraphs joined
by newlines.
"""

from __future__ import annotations

import math
import struct

import numpy as np

# -- compound file ------------------------------------------------------------

_MAGIC = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
_SECTOR = 512
_MINI = 64
_CUTOFF = 4096
_FREE = 0xFFFFFFFF
_END = 0xFFFFFFFE
_FATSECT = 0xFFFFFFFD
_DIFSECT = 0xFFFFFFFC
_NOSTREAM = 0xFFFFFFFF
_PER_SECTOR = _SECTOR // 4


def _dir_entry(name: str, etype: int, start: int, size: int,
               left: int = _NOSTREAM, right: int = _NOSTREAM,
               child: int = _NOSTREAM) -> bytes:
    raw = name.encode("utf-16-le")
    return (
        raw.ljust(64, b"\x00")
        + struct.pack("<HBB3I", len(raw) + 2, etype, 1, left, right, child)
        + b"\x00" * 36  # clsid, state bits, creation and modified times
        + struct.pack("<IQ", start, size)
    )


def _tree(sids: list[int], links: dict[int, list[int]]) -> int:
    """Balanced binary tree over sibling sids already in CFB name order;
    returns the subtree root and fills links[sid] = [left, right]."""
    if not sids:
        return _NOSTREAM
    mid = len(sids) // 2
    links[sids[mid]] = [_tree(sids[:mid], links), _tree(sids[mid + 1 :], links)]
    return sids[mid]


def write_cfb(streams: list[tuple[str, bytes]]) -> bytes:
    """Serialize root-level streams into one compound file."""
    fat: list[int] = []
    body: list[bytes] = []

    def alloc(data: bytes) -> int:
        if not data:
            return _END
        n = -(-len(data) // _SECTOR)
        start = len(fat)
        fat.extend(range(start + 1, start + n))
        fat.append(_END)
        body.append(data.ljust(n * _SECTOR, b"\x00"))
        return start

    mini = bytearray()
    minifat: list[int] = []
    placed: list[tuple[str, int, int]] = []
    for name, data in streams:
        if len(data) >= _CUTOFF:
            placed.append((name, alloc(data), len(data)))
            continue
        if not data:
            placed.append((name, _END, 0))
            continue
        n = -(-len(data) // _MINI)
        start = len(minifat)
        minifat.extend(range(start + 1, start + n))
        minifat.append(_END)
        mini += data.ljust(n * _MINI, b"\x00")
        placed.append((name, start, len(data)))
    root_start = alloc(bytes(mini))
    minifat_bytes = struct.pack(f"<{len(minifat)}I", *minifat)
    if minifat:
        minifat_bytes = minifat_bytes.ljust(
            -(-len(minifat_bytes) // _SECTOR) * _SECTOR, b"\xff"
        )
    minifat_start = alloc(minifat_bytes)

    # directory: root + streams, siblings in CFB order (length, then upper)
    order = sorted(range(len(placed)), key=lambda i: (
        len(placed[i][0]), placed[i][0].upper()))
    links: dict[int, list[int]] = {}
    child = _tree([i + 1 for i in order], links)
    entries = [_dir_entry("Root Entry", 5, root_start, len(mini), child=child)]
    for i, (name, start, size) in enumerate(placed):
        left, right = links[i + 1]
        entries.append(_dir_entry(name, 2, start, size, left, right))
    directory = b"".join(entries)
    directory = directory.ljust(
        -(-len(directory) // _SECTOR) * _SECTOR, b"\x00"
    )
    dir_start = alloc(directory)

    # FAT and DIFAT sectors map themselves, so size them to a fixed point
    n_fat = n_difat = 0
    while True:
        total = len(fat) + n_fat + n_difat
        need_fat = -(-total // _PER_SECTOR)
        need_difat = max(0, -(-(need_fat - 109) // (_PER_SECTOR - 1)))
        if (need_fat, need_difat) == (n_fat, n_difat):
            break
        n_fat, n_difat = need_fat, need_difat
    fat_start = len(fat)
    fat.extend([_FATSECT] * n_fat)
    difat_start = len(fat) if n_difat else _END
    fat.extend([_DIFSECT] * n_difat)
    fat.extend([_FREE] * (n_fat * _PER_SECTOR - len(fat)))
    fat_ids = list(range(fat_start, fat_start + n_fat))
    body.append(struct.pack(f"<{len(fat)}I", *fat))
    spill = fat_ids[109:]
    for d in range(n_difat):
        chunk = spill[d * (_PER_SECTOR - 1) : (d + 1) * (_PER_SECTOR - 1)]
        chunk += [_FREE] * (_PER_SECTOR - 1 - len(chunk))
        nxt = difat_start + d + 1 if d + 1 < n_difat else _END
        body.append(struct.pack(f"<{_PER_SECTOR}I", *chunk, nxt))
    head_difat = fat_ids[:109] + [_FREE] * (109 - min(109, n_fat))

    header = (
        _MAGIC
        + b"\x00" * 16
        + struct.pack("<5H", 0x3E, 3, 0xFFFE, 9, 6)
        + b"\x00" * 6
        + struct.pack(
            "<9I", 0, n_fat, dir_start, 0, _CUTOFF,
            minifat_start if minifat else _END, len(minifat_bytes) // _SECTOR,
            difat_start, n_difat,
        )
        + struct.pack("<109I", *head_difat)
    )
    return header + b"".join(body)


# -- Word document ------------------------------------------------------------

# cp1252 pieces: ASCII plus Latin-1 letters that none of the repair
# heuristics react to (no a-circumflex/A-tilde lead bytes, no o-slash)
_ANSI_WORDS = (
    "report quarterly budget meeting agenda review draft final summary "
    "project status update revenue forecast customer contract invoice "
    "schedule delivery milestone risk owner action item approved pending "
    "the and of to in is for with on by from at as an this that will be "
    "café naïve façade résumé Müller "
    "España coöperate über"
).split()
# UTF-16 pieces: anything in the BMP the mapping does not treat as a mark
_WIDE_WORDS = _ANSI_WORDS[:24] + (
    "αρχείο κείμενο "
    "документ отчёт "
    "文書 報告書 テキスト "
    "מסמך مستند "
    "‘quoted’ “double” –dash—"
).split()

_FIB_SIZE = 0x9A + 93 * 8 + 2
_TEXT_FC = 0x400
_BOLD = bytes([0x35, 0x08, 0x01])  # sprmCFBold on
_ITALIC = bytes([0x36, 0x08, 0x01])  # sprmCFItalic on
_PAPX_CAP = 29  # PAPX FKP runs per page
_CHPX_CAP = 100  # CHPX FKP runs per page

_STYLE_NAMES = ["Normal", "heading 1", "heading 2", "Default Paragraph Font",
                "Table Normal", "No List", "Title"]


def _words(rng: np.random.Generator, vocab: list[str], n: int) -> str:
    return " ".join(vocab[i] for i in rng.integers(0, len(vocab), n))


def plan_text(rng: np.random.Generator, n_chars: int,
              wide_share: float) -> list[tuple[bool, list[str]]]:
    """Pieces of paragraphs totalling about n_chars characters; each piece
    is (is_utf16, paragraphs) and a piece holds whole paragraphs."""
    pieces: list[tuple[bool, list[str]]] = []
    total = 0
    while total < n_chars or not pieces:
        wide = bool(rng.random() < wide_share)
        paras = []
        for _ in range(int(rng.integers(1, 8))):
            text = _words(rng, _WIDE_WORDS if wide else _ANSI_WORDS,
                          int(rng.integers(4, 120)))
            paras.append(text)
            total += len(text) + 1
            if total >= n_chars:
                break
        pieces.append((wide, paras))
    return pieces


def _fkp_chpx(rgfc: list[int], props: list[bytes]) -> bytes:
    page = bytearray(512)
    crun = len(rgfc) - 1
    struct.pack_into(f"<{crun + 1}i", page, 0, *rgfc)
    offsets: dict[bytes, int] = {}
    top = 511
    for grpprl in set(props):
        if not grpprl:
            continue
        top = (top - 1 - len(grpprl)) & ~1
        page[top] = len(grpprl)
        page[top + 1 : top + 1 + len(grpprl)] = grpprl
        offsets[grpprl] = top // 2
    base = 4 * (crun + 1)
    for i, grpprl in enumerate(props):
        page[base + i] = offsets.get(grpprl, 0)
    page[511] = crun
    return bytes(page)


def _fkp_papx(rgfc: list[int]) -> bytes:
    page = bytearray(512)
    crun = len(rgfc) - 1
    struct.pack_into(f"<{crun + 1}i", page, 0, *rgfc)
    papx_at = 506  # cw=1: istd 0, no sprms
    page[papx_at : papx_at + 3] = b"\x01\x00\x00"
    base = 4 * (crun + 1)
    for i in range(crun):
        page[base + 13 * i] = papx_at // 2
    page[511] = crun
    return bytes(page)


def _stsh() -> bytes:
    stds = []
    for i, name in enumerate(_STYLE_NAMES):
        kind = 2 if "Font" in name else 1
        base = struct.pack("<5H", i, kind | (0x0FFF << 4), (1 << 12) | i, 0, 0)
        xstz = struct.pack("<H", len(name)) + name.encode("utf-16-le") + b"\x00\x00"
        std = base + xstz
        std += b"\x00" * (len(std) & 1)
        stds.append(struct.pack("<H", len(std)) + std)
    stshi = struct.pack("<6H3H", len(stds), 10, 1, 0x5B, 15, 0, 0, 0, 0)
    return struct.pack("<H", len(stshi)) + stshi + b"".join(stds)


def _plcf_bte(fc_bounds: list[int], pages: list[int]) -> bytes:
    return struct.pack(f"<{len(fc_bounds)}i{len(pages)}i", *fc_bounds, *pages)


def make_doc(pieces: list[tuple[bool, list[str]]], rng: np.random.Generator,
             pad_to: int = 0) -> tuple[bytes, str]:
    """Serialize planned pieces into a .doc; returns (payload, expected).
    With pad_to, a Data stream (where Word keeps pictures; no text refers
    to it) brings the file to about pad_to bytes."""
    text_bytes = bytearray()
    para_fcs: list[int] = []  # FC at the start of every paragraph
    run_fcs: list[int] = []  # CHPX run starts (paragraph starts + splits)
    run_props: list[bytes] = []
    pcds: list[tuple[int, int, bool]] = []  # (cp_start, fc, utf16)
    cp = 0
    for wide, paras in pieces:
        fc0 = _TEXT_FC + len(text_bytes)
        pcds.append((cp, fc0, wide))
        for para in paras:
            chars = para + "\r"
            fc = _TEXT_FC + len(text_bytes)
            para_fcs.append(fc)
            run_fcs.append(fc)
            run_props.append(b"")
            # a formatted run inside some paragraphs
            cut = chars.find(" ", len(chars) // 3)
            if cut > 0 and rng.random() < 0.5:
                run_fcs.append(fc + cut * (2 if wide else 1))
                run_props.append(_BOLD if rng.random() < 0.5 else _ITALIC)
            text_bytes += chars.encode("utf-16-le" if wide else "cp1252")
            cp += len(chars)
    ccp_text = cp
    fc_mac = _TEXT_FC + len(text_bytes)

    # FKP pages follow the text, 512-aligned
    pages_at = -(-fc_mac // 512) * 512
    word = bytearray(pages_at)
    page_no = pages_at // 512
    chpx_bounds, chpx_pages = [], []
    for i in range(0, len(run_fcs), _CHPX_CAP):
        rgfc = run_fcs[i : i + _CHPX_CAP]
        end = run_fcs[i + _CHPX_CAP] if i + _CHPX_CAP < len(run_fcs) else fc_mac
        word += _fkp_chpx(rgfc + [end], run_props[i : i + _CHPX_CAP])
        chpx_bounds.append(rgfc[0])
        chpx_pages.append(page_no)
        page_no += 1
    chpx_bounds.append(fc_mac)
    papx_bounds, papx_pages = [], []
    for i in range(0, len(para_fcs), _PAPX_CAP):
        rgfc = para_fcs[i : i + _PAPX_CAP]
        end = para_fcs[i + _PAPX_CAP] if i + _PAPX_CAP < len(para_fcs) else fc_mac
        word += _fkp_papx(rgfc + [end])
        papx_bounds.append(rgfc[0])
        papx_pages.append(page_no)
        page_no += 1
    papx_bounds.append(fc_mac)
    word[_TEXT_FC:fc_mac] = text_bytes

    # table stream: STSH, bin tables, CLX
    table = bytearray()
    fclcb: dict[int, tuple[int, int]] = {}

    def put(idx: int, blob: bytes) -> None:
        fclcb[idx] = (len(table), len(blob))
        table.extend(blob)

    put(1, _stsh())
    put(12, _plcf_bte(chpx_bounds, chpx_pages))
    put(13, _plcf_bte(papx_bounds, papx_pages))
    cps = [p[0] for p in pcds] + [ccp_text]
    pcd_blob = b"".join(
        struct.pack("<HIH", 0, fc if wide else (fc * 2) | 0x40000000, 0)
        for _, fc, wide in pcds
    )
    plc_pcd = struct.pack(f"<{len(cps)}i", *cps) + pcd_blob
    prc = b"\x01" + struct.pack("<h", 3) + b"\x35\x08\x00"
    put(33, prc + b"\x02" + struct.pack("<i", len(plc_pcd)) + plc_pcd)

    # FIB
    fib = bytearray(_FIB_SIZE)
    struct.pack_into("<HHHHhH", fib, 0, 0xA5EC, 0xC1, 0, 0x0409, 0, 0x0200)
    struct.pack_into("<H", fib, 0x0C, 0xBF)
    struct.pack_into("<ii", fib, 0x18, _TEXT_FC, fc_mac)
    struct.pack_into("<H", fib, 0x20, 14)
    struct.pack_into("<H", fib, 0x22 + 26, 0x0409)
    struct.pack_into("<H", fib, 0x3E, 22)
    struct.pack_into("<i", fib, 0x40, len(word))
    struct.pack_into("<i", fib, 0x40 + 0x0C, ccp_text)
    struct.pack_into("<H", fib, 0x98, 93)
    for idx, (fc, lcb) in fclcb.items():
        struct.pack_into("<II", fib, 0x9A + idx * 8, fc, lcb)
    word[: len(fib)] = fib

    streams = [("WordDocument", bytes(word)), ("1Table", bytes(table))]
    # header, directory, FAT and mini-stream overhead is about 2 KB
    pad = pad_to - len(word) - len(table) - 2048
    if pad > 0:
        streams.append(("Data", rng.bytes(pad)))
    payload = write_cfb(streams)
    expected = "\n".join(p for _, paras in pieces for p in paras)
    return payload, expected


def lognormal_sizes(rng: np.random.Generator, n: int, median: float,
                    sigma: float, lo: int, hi: int, total: int) -> list[int]:
    """n document sizes from a log-normal, clipped to [lo, hi] and scaled
    so they sum to about `total` (keeps a corpus's work equal across
    seeds while the size mix still varies)."""
    raw = np.clip(rng.lognormal(math.log(median), sigma, n), lo, hi)
    raw *= total / raw.sum()
    return [int(x) for x in np.clip(raw, lo, hi)]
