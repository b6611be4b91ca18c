"""Compound File Binary (CFB/OLE2) reader — pure Python + NumPy.

From-scratch implementation of the [MS-CFB] container format with the same
defensive behaviors as the reference reader
(/root/reference/Common.CompoundFileBinary/StructuredStorage/Reader/*):

- header magic + endian probe (Header.cs:28-64, AbstractHeader.cs:11)
- FAT built from 109 header DIFAT slots + chained DIFAT sectors (Fat.cs:74-139)
- sector-chain walk with cycle/length guards (AbstractFat.GetSectorChain)
- mini-FAT / mini-stream for streams < 4096 B (MiniFat.cs:50-77), with the
  chain-size retry for files whose root entry under-declares the mini stream
  size (MiniFat.cs:114-126)
- red-black directory-tree traversal with cycle detection
  (DirectoryTree.cs:61-98)

Unlike the reference (seek-y VirtualStream objects), this reader slices one
in-memory `bytes` payload with NumPy — the input contract is a document
payload column inside an Arrow batch, never a file handle.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np

MAGIC = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"

FREESECT = 0xFFFFFFFF
ENDOFCHAIN = 0xFFFFFFFE
FATSECT = 0xFFFFFFFD
DIFSECT = 0xFFFFFFFC

STGTY_STORAGE = 1
STGTY_STREAM = 2
STGTY_ROOT = 5

NOSTREAM = 0xFFFFFFFF


class CfbError(ValueError):
    """Raised for structurally invalid compound files."""


@dataclass
class DirectoryEntry:
    sid: int
    name: str
    type: int
    left: int
    right: int
    child: int
    start_sector: int
    size: int
    path: str = ""


class CompoundFile:
    """Random-access reader over an in-memory CFB payload."""

    def __init__(self, data: bytes):
        if len(data) < 512 or data[:8] != MAGIC:
            # message mirrors the reference's MagicNumberException with the
            # little-endian u64 it found (Header.cs:46-50, Exceptions.cs:20)
            found = struct.unpack_from("<Q", data.ljust(8, b"\x00"), 0)[0]
            raise CfbError(f"Magic Number not found in file. Found: {found:10X}")
        self._data = data

        # header geometry (Header.cs:28-64)
        (self.sector_shift,) = struct.unpack_from("<H", data, 0x1E)
        (self.mini_shift,) = struct.unpack_from("<H", data, 0x20)
        (self.num_fat_sectors,) = struct.unpack_from("<I", data, 0x2C)
        (self.first_dir_sector,) = struct.unpack_from("<I", data, 0x30)
        (self.mini_cutoff,) = struct.unpack_from("<I", data, 0x38)
        (self.first_minifat_sector,) = struct.unpack_from("<I", data, 0x3C)
        (self.num_minifat_sectors,) = struct.unpack_from("<I", data, 0x40)
        (self.first_difat_sector,) = struct.unpack_from("<I", data, 0x44)
        (self.num_difat_sectors,) = struct.unpack_from("<I", data, 0x48)
        if self.sector_shift not in (9, 12):
            raise CfbError(f"unsupported sector shift {self.sector_shift}")
        self.sector_size = 1 << self.sector_shift
        self.mini_sector_size = 1 << self.mini_shift
        # Practical bound on any chain length: the file can't hold more sectors.
        self._max_sectors = max(1, (len(data) // self.sector_size) + 1)

        self._fat = self._build_fat()
        self._minifat: list[int] | None = None
        self._mini_stream: bytes | None = None
        self._dir_entries = self._read_directory()
        # name lookup prefers ROOT-LEVEL streams: nested storages (ObjectPool
        # sub-documents) may contain identically-named streams, and the
        # reference resolves by path from the root (StructuredStorageReader)
        self._by_name: dict[str, DirectoryEntry] = {}
        for top_level in (True, False):
            for e in self._dir_entries:
                if e.type == STGTY_STREAM and (e.path == e.name) == top_level:
                    self._by_name.setdefault(e.name, e)
                    self._by_name.setdefault(e.name.lower(), e)

    # -- sector primitives ------------------------------------------------

    def _sector_bytes(self, sid: int) -> bytes:
        off = (sid + 1) << self.sector_shift
        return self._data[off : off + self.sector_size]

    def _build_fat(self) -> list[int]:
        # 109 DIFAT slots live in the header at 0x4C (Fat.cs:74-101)
        difat = np.frombuffer(self._data, dtype="<u4", count=109, offset=0x4C)
        fat_sector_ids = _sector_ids(difat)
        # remaining DIFAT sectors are chained (Fat.cs:103-139)
        sid = self.first_difat_sector
        seen: set[int] = set()
        per_sector = self.sector_size // 4 - 1
        while sid not in (FREESECT, ENDOFCHAIN) and sid not in seen:
            seen.add(sid)
            block = np.frombuffer(self._sector_bytes(sid), dtype="<u4")
            if block.size <= per_sector:
                break
            fat_sector_ids.extend(_sector_ids(block[:per_sector]))
            sid = int(block[per_sector])
            if len(seen) > self._max_sectors:
                raise CfbError("DIFAT chain exceeds file size (cycle?)")
        parts = []
        for s in fat_sector_ids:
            sec = self._sector_bytes(s)
            if len(sec) == self.sector_size:
                parts.append(sec)
        if not parts:
            raise CfbError("empty FAT")
        # one Python list: chain walks index it per sector, and list indexing
        # is several times cheaper than NumPy scalar access
        return np.frombuffer(b"".join(parts), dtype="<u4").tolist()

    def _chain(self, start: int) -> list[int]:
        """Follow next = FAT[cur] until ENDOFCHAIN, with cycle/length guards
        (AbstractFat.GetSectorChain; DirectoryTree.cs:75-78 cycle pattern)."""
        chain: list[int] = []
        sid = start
        seen: set[int] = set()
        while sid != ENDOFCHAIN and sid != FREESECT:
            if sid in seen or len(chain) > self._max_sectors:
                break  # corrupt chain: stop rather than loop forever
            if sid >= len(self._fat):
                break
            seen.add(sid)
            chain.append(sid)
            sid = self._fat[sid]
        return chain

    def _read_chain_bytes(self, start: int) -> bytes:
        return b"".join(self._sector_bytes(s) for s in self._chain(start))

    # -- directory ---------------------------------------------------------

    def _read_directory(self) -> list[DirectoryEntry]:
        raw = self._read_chain_bytes(self.first_dir_sector)
        entries: list[DirectoryEntry] = []
        for sid in range(len(raw) // 128):
            off = sid * 128
            # DirectoryEntry.cs:38-44 + InputHandler.ReadString: decode the
            # full 64-byte name field WITHOUT NUL truncation (the raw name is
            # always 32 UTF-16 units), then take (declared_len/2 - 1) chars;
            # an implausible declared length falls back to all 32 — which the
            # >=32 name check in the tree walk then rejects, exactly like the
            # reference's '_ab' validation
            raw_name = raw[off : off + 64].decode("utf-16-le", errors="replace")
            (name_len,) = struct.unpack_from("<H", raw, off + 64)
            n_chars = (name_len // 2) - 1
            if n_chars > len(raw_name) or n_chars < 0:
                n_chars = len(raw_name)
            name = raw_name[:n_chars]
            etype = raw[off + 66]
            left, right, child = struct.unpack_from("<3I", raw, off + 68)
            (start_sector,) = struct.unpack_from("<I", raw, off + 116)
            (size,) = struct.unpack_from("<Q", raw, off + 120)
            if self.sector_shift == 9 and size > 0x80000000:
                # v3 files: only the low 32 bits of size are valid; the
                # reference warns instead of failing (DirectoryEntry.cs:78-83)
                size &= 0xFFFFFFFF
            entries.append(
                DirectoryEntry(sid, name, etype, left, right, child, start_sector, size)
            )
        # tree walk from sid 0 in the reference's recursion order — entry,
        # left, right, child — INCLUDING the root's sibling pointers, with
        # per-entry name validation and throw-on-cycle
        # (DirectoryTree.cs:61-98, AbstractDirectoryEntry.cs:33-36): the
        # fixture corpus encodes these failures as expected output.
        if entries:
            visited: set[int] = set()
            # explicit stack in preorder (push child, right, left so the left
            # subtree completes first), matching the recursion's visit order
            stack = [(0, "")]
            while stack:
                sid, prefix = stack.pop()
                if sid == NOSTREAM or sid >= len(entries):
                    continue
                if sid in visited:
                    raise CfbError("DirectoryEntries contains a cycle.")
                visited.add(sid)
                e = entries[sid]
                if len(e.name) >= 32:
                    raise CfbError("The value for '_ab' is invalid.")
                e.path = prefix + e.name
                if e.child != NOSTREAM:
                    stack.append((e.child, "" if sid == 0 else e.path + "/"))
                stack.append((e.right, prefix))
                stack.append((e.left, prefix))
        return entries

    # -- mini stream --------------------------------------------------------

    def _ensure_mini(self) -> None:
        if self._minifat is not None:
            return
        raw = self._read_chain_bytes(self.first_minifat_sector)
        self._minifat = np.frombuffer(raw, dtype="<u4").tolist() if raw else []
        root = self._dir_entries[0] if self._dir_entries else None
        if root is None:
            self._mini_stream = b""
            return
        # MiniFat.cs:114-126 — tolerate root entries that under-declare the
        # mini stream size by reading the full physical chain.
        self._mini_stream = self._read_chain_bytes(root.start_sector)

    # -- public API ----------------------------------------------------------

    def has_stream(self, name: str) -> bool:
        return name in self._by_name or name.lower() in self._by_name

    def get_stream(self, name: str) -> bytes:
        """Reassemble a named stream (StructuredStorageReader.cs:94-112):
        size < mini cutoff -> mini-FAT chain, else regular FAT chain. Chain
        validation mirrors AbstractFat.GetSectorChain + VirtualStream
        CheckConsistency (AbstractFat.cs:59-95, VirtualStream.cs:308-315)."""
        e = self._by_name.get(name) or self._by_name.get(name.lower())
        if e is None:
            raise KeyError(f"Stream with name '{name}' not found.")
        if e.size == 0:
            return b""
        if e.size < self.mini_cutoff and e.type != STGTY_ROOT:
            return self._read_mini_chain_checked(e.start_sector, e.size, e.name)
        chain = self._checked_chain(
            self._fat, e.start_sector, -(-e.size // self.sector_size), e.name
        )
        out = b"".join(self._sector_bytes(s) for s in chain)
        return out[: e.size]

    def _checked_chain(
        self, fat: list[int], start: int, max_count: int, name: str
    ) -> list[int]:
        chain = [start]
        cur = start
        n_fat = len(fat)
        while True:
            if cur >= n_fat:
                raise CfbError("Chain could not be build due to an invalid sector id.")
            nxt = fat[cur]
            if nxt in (DIFSECT, FATSECT, FREESECT):
                raise CfbError("Chain could not be build due to an invalid sector id.")
            if nxt == ENDOFCHAIN:
                break
            chain.append(nxt)
            if len(chain) > max_count:
                raise CfbError(
                    f"The number of sectors used by {name} does not match "
                    "the specified size."
                )
            cur = nxt
        if len(chain) != max_count:
            raise CfbError(
                f"The number of sectors used by {name} does not match "
                "the specified size."
            )
        return chain

    def _read_mini_chain_checked(self, start: int, size: int, name: str) -> bytes:
        self._ensure_mini()
        assert self._minifat is not None and self._mini_stream is not None
        chain = self._checked_chain(
            self._minifat, start, -(-size // self.mini_sector_size), name
        )
        mss = self.mini_sector_size
        out = b"".join(self._mini_stream[s * mss : s * mss + mss] for s in chain)
        if len(out) < size:
            out += b"\x00" * (size - len(out))
        return out[:size]


def _sector_ids(slots: np.ndarray) -> list[int]:
    """FAT sector ids among DIFAT slots: every slot but FREESECT/ENDOFCHAIN."""
    return slots[(slots != FREESECT) & (slots != ENDOFCHAIN)].tolist()
