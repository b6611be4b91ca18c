"""Archive sources: mbox mail archives and WARC web crawls -> row-per-document.

A 100 TB training corpus does not arrive as one payload per file: mail
lands as multi-message mbox archives and web text as multi-record WARC
crawls (the Common Crawl shape). These readers turn a directory of
archive files into a DataFrame with ONE ROW PER CONTAINED DOCUMENT,
ready for the extraction kernel (`run_extraction`) or the markup fold.

Distribution model — the same black-box-map shape as the extraction
pipeline: the DRIVER only lists file paths (tiny); the paths DataFrame is
repartitioned so each archive is split/parsed entirely on an executor
inside `mapInPandas`, and no archive byte ever moves through a shuffle
or the driver. Archives are independent, so parallelism scales with
file count (thousands of ~1 GB files at crawl scale); per-archive size
caps bound executor memory, and each record is capped at the payload
kernel's ``budget.MAX_PAYLOAD_BYTES``.

Formats (public specs):
- mbox ("mboxrd"-tolerant): messages delimited by "From " separator
  lines at start-of-line; ">From " unstuffing applied to body lines.
- WARC/1.0-1.1 (ISO 28500): records as header block + Content-Length
  payload + CRLF CRLF; supports both plain files and the per-record-gzip
  concatenation Common Crawl ships (stdlib zlib multi-member decode).
"""

from __future__ import annotations

import glob as _glob
import gzip
import io
import zlib

from pyspark.sql import DataFrame, SparkSession

from .. import budget

__all__ = ["read_mbox", "read_tar", "read_warc", "read_zip", "split_mbox", "split_warc"]

# per-archive caps, same philosophy as budget.MAX_PAYLOAD_BYTES (which
# also caps each record)
_MAX_ARCHIVE_BYTES = 1 << 30
_MAX_RECORDS = 1 << 20


def split_mbox(data: bytes) -> list[bytes]:
    """Spark-free core: one mbox buffer -> raw RFC 822 message bytes.
    Messages start at lines beginning with "From " (the mbox separator,
    which is NOT an RFC 822 header); ">From " quoting is unstuffed."""
    if not data.startswith(b"From "):
        return [data] if data.strip() else []
    out: list[bytes] = []
    cur: list[bytes] = []
    for line in data.splitlines(keepends=True):
        if line.startswith(b"From ") and cur:
            out.append(b"".join(cur))
            cur = []
            continue
        if line.startswith(b"From ") and not cur:
            continue  # separator line itself is not message content
        if line.startswith(b">From "):
            line = line[1:]
        elif line.startswith(b">>"):
            # deeper quoting levels shed one '>' only when they quote a
            # From_ line (mboxrd); leave ordinary text alone
            stripped = line.lstrip(b">")
            if stripped.startswith(b"From ") and line[: len(line) - len(stripped)]:
                line = line[1:]
        cur.append(line)
        if len(out) >= _MAX_RECORDS:
            break
    if cur:
        out.append(b"".join(cur))
    return out


def _gunzip_members(data: bytes) -> bytes:
    """Concatenated-gzip decode (the Common Crawl per-record layout):
    stdlib gzip handles multi-member transparently; corrupt tails keep
    the decoded prefix. Decompression is STREAMED with a running total
    capped at _MAX_ARCHIVE_BYTES (ADVICE r05): a gzip bomb under the
    archive read cap can expand ~1000x, and one unbounded
    gzip.decompress would OOM an executor — the cap truncates instead,
    matching every other bounded decompression path in the repo."""
    out = bytearray()
    buf = io.BytesIO(data)
    while len(out) <= _MAX_ARCHIVE_BYTES:
        try:
            with gzip.GzipFile(fileobj=buf) as gz:
                while True:
                    chunk = gz.read(1 << 20)
                    if not chunk:
                        break
                    out += chunk
                    if len(out) > _MAX_ARCHIVE_BYTES:
                        return bytes(out[:_MAX_ARCHIVE_BYTES])
        except (OSError, EOFError, zlib.error):
            # corrupt member: keep the decoded prefix (salvage semantics)
            break
        if buf.tell() >= len(data):
            break
    return bytes(out)


def split_warc(data: bytes) -> list[dict]:
    """Spark-free core: one WARC buffer -> [{warc_type, target_uri, date,
    content_type, payload}] . Gzip (single- or multi-member) is decoded
    first. HTTP response records carry the HTTP header block in the
    payload; the returned payload is the HTTP BODY (headers stripped at
    the first CRLFCRLF) for response records, verbatim otherwise."""
    if data[:2] == b"\x1f\x8b":
        data = _gunzip_members(data)
    records: list[dict] = []
    pos = 0
    n = len(data)
    while pos < n and len(records) < _MAX_RECORDS:
        head_start = data.find(b"WARC/", pos)
        if head_start < 0:
            break
        head_end = data.find(b"\r\n\r\n", head_start)
        if head_end < 0:
            break
        headers: dict[str, str] = {}
        for line in data[head_start:head_end].split(b"\r\n")[1:]:
            k, _, v = line.partition(b":")
            if _:
                headers[k.strip().decode("latin-1").lower()] = v.strip().decode(
                    "latin-1", "replace"
                )
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            length = -1
        body_start = head_end + 4
        if length < 0 or length > budget.MAX_PAYLOAD_BYTES:
            # unparseable/absurd length: scan to the next record marker
            nxt = data.find(b"\r\n\r\nWARC/", body_start)
            body_end = nxt + 2 if nxt >= 0 else n
        else:
            body_end = min(body_start + length, n)
        payload = data[body_start:body_end]
        wtype = headers.get("warc-type", "")
        ctype = headers.get("content-type", "")
        if wtype == "response" and payload[:5] in (b"HTTP/",):
            split = payload.find(b"\r\n\r\n")
            if split >= 0:
                payload = payload[split + 4 :]
        records.append(
            {
                "warc_type": wtype,
                "target_uri": headers.get("warc-target-uri", ""),
                "date": headers.get("warc-date", ""),
                "content_type": ctype,
                "payload": payload,
            }
        )
        pos = body_end
    return records


def _paths_df(spark: SparkSession, path_glob: str, parallelism: int):
    paths = sorted(_glob.glob(path_glob))
    pdf = spark.createDataFrame([(p,) for p in paths], "path string")
    return pdf.repartition(max(1, min(parallelism, len(paths) or 1)))


def read_mbox(
    spark: SparkSession, path_glob: str, parallelism: int = 256
) -> DataFrame:
    """DataFrame(archive string, msg_idx long, payload binary) — one row
    per message; archives split on executors, never on the driver."""

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            out = {"archive": [], "msg_idx": [], "payload": []}
            for p in pdf["path"].values:
                with open(p, "rb") as f:
                    data = f.read(_MAX_ARCHIVE_BYTES + 1)
                if len(data) > _MAX_ARCHIVE_BYTES:
                    continue  # oversized archive: skipped loudly by count
                for i, msg in enumerate(split_mbox(data)):
                    out["archive"].append(p)
                    out["msg_idx"].append(i)
                    out["payload"].append(msg)
            yield pd.DataFrame(out)

    return _paths_df(spark, path_glob, parallelism).mapInPandas(
        gen, schema="archive string, msg_idx long, payload binary"
    )


def read_warc(
    spark: SparkSession,
    path_glob: str,
    parallelism: int = 256,
    warc_types: tuple[str, ...] = ("response",),
) -> DataFrame:
    """DataFrame(archive string, rec_idx long, target_uri string,
    date string, content_type string, payload binary) — one row per WARC
    record of the requested types (default: HTTP responses, the
    text-bearing kind), HTTP headers already stripped."""

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            out = {
                "archive": [],
                "rec_idx": [],
                "target_uri": [],
                "date": [],
                "content_type": [],
                "payload": [],
            }
            for p in pdf["path"].values:
                with open(p, "rb") as f:
                    data = f.read(_MAX_ARCHIVE_BYTES + 1)
                if len(data) > _MAX_ARCHIVE_BYTES:
                    continue
                for i, rec in enumerate(split_warc(data)):
                    if warc_types and rec["warc_type"] not in warc_types:
                        continue
                    out["archive"].append(p)
                    out["rec_idx"].append(i)
                    out["target_uri"].append(rec["target_uri"])
                    out["date"].append(rec["date"])
                    out["content_type"].append(rec["content_type"])
                    out["payload"].append(rec["payload"])
            yield pd.DataFrame(out)

    return _paths_df(spark, path_glob, parallelism).mapInPandas(
        gen,
        schema=(
            "archive string, rec_idx long, target_uri string, "
            "date string, content_type string, payload binary"
        ),
    )


def _bundle_reader(split_fn, schema: str):
    def reader(spark: SparkSession, path_glob: str, parallelism: int = 256) -> DataFrame:
        def gen(batches):
            import pandas as pd

            for pdf in batches:
                out = {"archive": [], "member": [], "payload": []}
                for p in pdf["path"].values:
                    for name, data in split_fn(p):
                        out["archive"].append(p)
                        out["member"].append(name)
                        out["payload"].append(data)
                yield pd.DataFrame(out)

        return _paths_df(spark, path_glob, parallelism).mapInPandas(gen, schema=schema)

    return reader


def _split_tar(path: str):
    """One tar(.gz/.bz2/.xz) archive -> (member_name, bytes) for regular
    files, size-capped per member and per archive; transparent
    compression via tarfile's mode auto-detect."""
    import tarfile

    total = 0
    try:
        with tarfile.open(path, mode="r:*") as tf:
            for info in tf:
                if not info.isfile() or info.size > budget.MAX_PAYLOAD_BYTES:
                    continue
                total += info.size
                if total > _MAX_ARCHIVE_BYTES:
                    break
                f = tf.extractfile(info)
                if f is None:
                    continue
                yield info.name, f.read(budget.MAX_PAYLOAD_BYTES)
    except (tarfile.TarError, OSError, EOFError, zlib.error):
        return  # corrupt archive: emit what was salvaged before the error


def _split_zip(path: str):
    """One zip archive -> (member_name, bytes); per-member decompressed
    cap, directories skipped."""
    import zipfile

    total = 0
    try:
        with zipfile.ZipFile(path) as zf:
            for info in zf.infolist():
                if info.is_dir() or info.file_size > budget.MAX_PAYLOAD_BYTES:
                    continue
                total += info.file_size
                if total > _MAX_ARCHIVE_BYTES:
                    break
                try:
                    yield info.filename, zf.read(info)
                except (zipfile.BadZipFile, OSError, zlib.error):
                    continue  # one corrupt member must not kill the archive
    except (zipfile.BadZipFile, OSError):
        return


#: DataFrame(archive, member, payload) — one row per regular file in a
#: tar(.gz/.bz2/.xz) bundle; the dump-shaped twin of read_warc/read_mbox.
read_tar = _bundle_reader(_split_tar, "archive string, member string, payload binary")

#: DataFrame(archive, member, payload) — one row per member of a plain
#: zip bundle (OOXML/ODF/EPUB zips are DOCUMENTS and belong to the
#: payload kernel, not this reader).
read_zip = _bundle_reader(_split_zip, "archive string, member string, payload binary")
