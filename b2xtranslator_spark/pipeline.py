"""Spark extraction pipeline: transcripts in, extracted text + spans out.

Architecture (SURVEY.md §3 "Spark lifecycle"):

    read transcripts (column-pruned)
      -> mapInArrow(extract_turns)            (Arrow batches over the scan
                                               splits; pure per-document map)
      -> per group: sort within partitions by (conv_id, turn_idx) and
         write <out>/group=<g>/ map-only

The kernel works on the Arrow batches themselves: payload cells are read in
place from the batch's data buffers and the output columns are built from
buffers, so a Python worker never materializes a pandas frame (nor imports
pandas) and never holds a payload as a Python str.

The job has no salt, no repartition and no conv_bucket write: its one sink
is run_with_checkpoints, which commits the corpus in deterministic
hash-bucket groups so a killed run resumes without recomputing completed
groups (Iceberg-snapshot-per-commit semantics expressed over parquet
staging; the commit unit is a group, idempotent under retry).

The per-document decode is a scalar black box to Catalyst (SURVEY.md §4): no
custom rules, no RDDs, no driver-side loops over rows.
"""

from __future__ import annotations

import base64
import hashlib
import os
import time
from collections import OrderedDict
from collections.abc import Callable, Iterable, Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from . import budget

PAYLOAD_PREFIX = "b64cfb:"
# raw (non-base64) HTML/markup payloads — the north rule's markup leg;
# extraction strips boilerplate via formats/markup.py
MARKUP_PREFIX = "markup:"
# same, with the link-density main-content heuristic forced ON for this row
MARKUP_MAIN_PREFIX = "markup_main:"
# payload prefix (UTF-8) -> (is_markup, main_content); the markup ones carry
# raw HTML, the other base64 document bytes
_PREFIXES = {
    PAYLOAD_PREFIX.encode(): (False, False),
    MARKUP_MAIN_PREFIX.encode(): (True, True),
    MARKUP_PREFIX.encode(): (True, False),
}
_PREFIX_TUPLE = tuple(_PREFIXES)
_PREFIX_MAX = max(map(len, _PREFIX_TUPLE))

SPAN_TYPE = ArrayType(
    StructType(
        [
            StructField("part", StringType()),
            StructField("start", IntegerType()),
            StructField("end", IntegerType()),
        ]
    )
)

METRICS_TYPE = StructType(
    [
        StructField("docs_parsed", IntegerType()),
        StructField("records_decoded", LongType()),
        StructField("bytes_decoded", LongType()),
        StructField("failures", IntegerType()),
        StructField("wall_ms", LongType()),
    ]
)

EXTRACTED_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("text", StringType()),
        StructField("spans", SPAN_TYPE),
        StructField("status", StringType()),
        StructField("error", StringType()),
        StructField("metrics", METRICS_TYPE),
    ]
)

# the kernel's input columns; run_extraction casts to these types, so the
# batches carry string columns and an int32 turn_idx
TRANSCRIPT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("text", StringType()),
        StructField("tool", StringType()),
    ]
)
_IN_ARROW = pa.schema(list(to_arrow_type(TRANSCRIPT_SCHEMA)))
_OUT_ARROW = pa.schema(list(to_arrow_type(EXTRACTED_SCHEMA)))
_SPANS_ARROW = _OUT_ARROW.field("spans").type
_METRICS_ARROW = _OUT_ARROW.field("metrics").type


# Content-addressed per-worker decode cache: real transcript corpora repeat
# identical attachments (the same document forwarded across turns and
# conversations), and the decode is deterministic, so each Python worker
# memoizes results keyed by the payload digest. Bounded LRU — the cached
# value is the small result tuple (text + spans + metrics), never the
# payload bytes. Decoding is a pure function of the payload, so a hit is
# byte-identical to a fresh decode. Created on first use.
_DECODE_CACHE: "OrderedDict[bytes, tuple]" = None  # type: ignore[assignment]
_DECODE_CACHE_MAX = 256  # entries

# Output chunking budget for the map kernel: the INPUT Arrow batch size is
# bounded JVM-side (maxRecordsPerBatch=128 x payload size), but the kernel's
# OUTPUT columns + their Arrow serialization buffer are extra copies —
# yielding in slices of about this many input bytes caps that additional
# footprint per batch.
_OUT_CHUNK_BYTES = 64 << 20

_CONTINUATION = bytes(range(0x80, 0xC0))  # UTF-8 bytes that start no character


def _chars(utf8: memoryview) -> int:
    """Characters in UTF-8 bytes, counted in 1 MB pieces: the bytes that are
    not continuation bytes."""
    step = 1 << 20
    return sum(
        len(bytes(utf8[i:i + step]).translate(None, _CONTINUATION))
        for i in range(0, len(utf8), step)
    )


def _extract_one(src: memoryview) -> tuple:
    """Extract one payload cell: the UTF-8 bytes of `text` or `tool`, prefix
    included (BASELINE.json input_hint: the payload may arrive in either).
    Returns (text, spans, status, error, metrics)."""
    global _DECODE_CACHE
    from .extractors import extract_payload_text  # module-cached after first call

    src = memoryview(src)
    prefix = next(p for p in _PREFIX_TUPLE if src[:len(p)] == p)
    is_markup, main_content = _PREFIXES[prefix]
    body = src[len(prefix):]

    # the oversize gate must run BEFORE the cache key (an md5 over the full
    # source) so repeated oversize rows never pay a multi-hundred-MB hash
    # for a result that is never cached. Markup counts its UTF-8 bytes;
    # base64 estimates the decoded size from its characters, which only a
    # non-ASCII body (never valid base64) has fewer of than bytes.
    cap = budget.MAX_PAYLOAD_BYTES
    size = len(body) if is_markup else len(body) // 4 * 3
    if size > cap and not is_markup:
        size = _chars(body) // 4 * 3
    if size > cap:
        return ("", [], "oversize", budget.oversize_error(size), (0, 0, 0, 1, 0))

    if _DECODE_CACHE is None:
        _DECODE_CACHE = OrderedDict()
    # Hash the exact cell bytes: an ascii-'replace' digest would map a
    # literal '?' and any non-ASCII char at the same position to the same
    # key, letting one row be served another row's cached result (ADVICE
    # r02). The bytes are the cell's UTF-8, so collisions need an md5
    # break. The prefix is hashed too, so markup: and markup_main: never
    # share a key.
    key = hashlib.md5(src).digest()
    hit = _DECODE_CACHE.get(key)
    if hit is not None:
        _DECODE_CACHE.move_to_end(key)
        return hit
    raw = bytes(body)
    if is_markup:
        res = extract_payload_text(raw, force_kind="html", html_main_content=main_content)
    else:
        try:
            # a non-ASCII body goes in as str, which base64 refuses with its
            # own message
            payload = base64.b64decode(raw if raw.isascii() else str(raw, "utf-8"))
        except ValueError as exc:  # malformed base64 is a row error, not a task error
            return ("", [], "parse_error", f"base64: {exc}", (0, 0, 0, 1, 0))
        res = extract_payload_text(payload)
    spans = res.metrics.get("spans") or [("main", 0, len(res.text))]
    ok = int(res.status == "ok")
    out = (
        res.text,
        spans,
        res.status,
        res.error,
        (
            ok,
            int(res.metrics.get("records_decoded", 0)),
            int(res.metrics.get("bytes_decoded", 0)),
            1 - ok,
            int(res.metrics.get("wall_ms", 0)),
        ),
    )
    _DECODE_CACHE[key] = out
    if len(_DECODE_CACHE) > _DECODE_CACHE_MAX:
        _DECODE_CACHE.popitem(last=False)
    return out


def extract_turns(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """mapInArrow kernel: one Arrow batch of turns in, its extracted rows
    out, in slices of about _OUT_CHUNK_BYTES of input. A pandas frame is
    accepted too and converted first: perfbench's in-process replay
    (perfbench/run.py, Workload._replay) feeds the kernel pandas batches
    read from its frozen inputs, so keep this branch while it does."""
    for batch in batches:
        if not isinstance(batch, pa.RecordBatch):
            batch = pa.RecordBatch.from_pandas(batch, schema=_IN_ARROW, preserve_index=False)
        if not batch.num_rows:
            continue
        text = _cells(batch.column("text"))
        tool = _cells(batch.column("tool"))
        # byte-bounded slicing: one slice's outputs (and their Arrow
        # serialization) are the only extra copies alive at a time, so a
        # batch of huge attachments cannot triple-buffer itself into an OOM
        a = acc = 0
        for r, size in enumerate((text[2] - text[1] + tool[2] - tool[1]).tolist()):
            acc += size
            if acc >= _OUT_CHUNK_BYTES and r + 1 < batch.num_rows:
                yield _extract_rows(batch, text, tool, a, r + 1)
                a, acc = r + 1, 0
        yield _extract_rows(batch, text, tool, a, batch.num_rows)


def _cells(col: pa.Array) -> tuple[memoryview, np.ndarray, np.ndarray]:
    """A string column read in place: its data buffer and each cell's start
    and end offsets in it. A null cell is empty."""
    validity, offsets, data = col.buffers()
    # 64-bit offsets under spark.sql.execution.arrow.useLargeVarTypes
    width = np.int64 if pa.types.is_large_string(col.type) else np.int32
    off = np.frombuffer(offsets, width, len(col) + 1, col.offset * np.dtype(width).itemsize)
    starts, ends = off[:-1], off[1:]
    if col.null_count:
        bits = np.unpackbits(np.frombuffer(validity, np.uint8), bitorder="little")
        ends = np.where(bits[col.offset:col.offset + len(col)].view(bool), ends, starts)
    return memoryview(data if data is not None else b"").cast("B"), starts, ends


def _is_payload(cell: memoryview) -> bool:
    return bytes(cell[:_PREFIX_MAX]).startswith(_PREFIX_TUPLE)


def _extract_rows(batch: pa.RecordBatch, text, tool, a: int, b: int) -> pa.RecordBatch:
    """Rows [a, b) of the batch: a payload-bearing row is decoded, a chat
    row passes its text through with status 'skipped'."""
    texts, spans, statuses, errors, metrics = [], [], [], [], []
    rows = zip(*(bound[a:b].tolist() for bound in (text[1], text[2], tool[1], tool[2])))
    for t0, t1, o0, o1 in rows:
        cell = text[0][t0:t1]
        src = cell if _is_payload(cell) else tool[0][o0:o1]
        if src is cell or _is_payload(src):
            t, s, st, err, m = _extract_one(src)
            cell = t.encode("utf-8")
        else:  # spans and bytes_decoded count characters
            n = len(str(cell, "utf-8"))
            s, st, err, m = [("main", 0, n)], "skipped", None, (0, 0, n, 0, 0)
        texts.append(cell)
        spans.append(s)
        statuses.append(st.encode())
        errors.append(err)
        metrics.append(m)

    flat = [s for row in spans for s in row]
    span_values = pa.StructArray.from_arrays(
        [
            _strings([p.encode() for p, _, _ in flat]),
            _ints([s for _, s, _ in flat], pa.int32()),
            _ints([e for _, _, e in flat], pa.int32()),
        ],
        fields=list(_SPANS_ARROW.value_type),
    )
    columns = np.array(metrics, dtype=np.int64).T
    return pa.RecordBatch.from_arrays(
        [
            batch.column("conv_id").slice(a, b - a),
            batch.column("turn_idx").slice(a, b - a),
            _strings(texts),
            pa.ListArray.from_arrays(
                _ints(np.cumsum([0] + [len(row) for row in spans]), pa.int32()),
                span_values,
                type=_SPANS_ARROW,
            ),
            _strings(statuses),
            _strings([e.encode() if e is not None else b"" for e in errors],
                     valid=[e is not None for e in errors]),
            pa.StructArray.from_arrays(
                [_ints(c, f.type) for c, f in zip(columns, _METRICS_ARROW)],
                fields=list(_METRICS_ARROW),
            ),
        ],
        schema=_OUT_ARROW,
    )


# The output columns are built from buffers: pa.array over Python objects
# imports pandas into the worker (about +37 MB each, with pyarrow 16).


def _ints(values, type_: pa.DataType) -> pa.Array:
    """An integer array of `type_` without nulls."""
    data = np.ascontiguousarray(values, dtype=f"i{type_.bit_width // 8}")
    return pa.Array.from_buffers(type_, len(data), [None, pa.py_buffer(data)])


def _strings(values: list, valid: list[bool] | None = None) -> pa.Array:
    """A string array of UTF-8 byte strings; `valid` False marks a null."""
    offsets = np.zeros(len(values) + 1, np.int64)
    np.cumsum([len(v) for v in values], out=offsets[1:])
    if offsets[-1] >= 1 << 31:
        raise OverflowError("a kernel output slice holds 2 GB or more of strings")
    mask = None if valid is None else pa.py_buffer(np.packbits(valid, bitorder="little"))
    return pa.Array.from_buffers(
        pa.string(),
        len(values),
        [mask, pa.py_buffer(offsets.astype(np.int32)), pa.py_buffer(b"".join(values))],
    )


def map_rows(
    df: DataFrame, schema: StructType, row: Callable[..., Iterable[tuple]]
) -> DataFrame:
    """A mapInArrow over `df` that calls row(*cells) for each input row, its
    cells as Python values in column order (a NULL is None), and emits the
    output tuples it returns, each in `schema` field order. The operators'
    per-row Python stages run on it; their outputs go through pa.array,
    which imports pandas into the worker, unlike extract_turns above."""
    arrow = pa.schema(list(to_arrow_type(schema)))

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            out = [
                t for cells in zip(*(c.to_pylist() for c in batch.columns))
                for t in row(*cells)
            ]
            yield pa.RecordBatch.from_arrays(
                [pa.array([t[i] for t in out], f.type) for i, f in enumerate(arrow)],
                schema=arrow,
            )

    return df.mapInArrow(kernel, schema)


def run_extraction(transcripts: DataFrame) -> DataFrame:
    """Arrow-batched extraction mapped directly over the scan partitions —
    ZERO shuffle. The payload column is the bulk of the data, so not moving
    it before a pure per-document map is the single biggest overhead saving
    (measured 32% wall at 8 cores vs a salted pre-shuffle); input split
    sizing (spark.sql.files.maxPartitionBytes=32MB) controls balance
    instead. The sink (run_with_checkpoints) writes map-only too, so no
    step shuffles rows by conversation, and a giant conversation cannot
    make one task larger than its own input splits. The casts to
    TRANSCRIPT_SCHEMA are no-ops (Catalyst drops them) where the types
    already match."""
    return transcripts.select(
        *(F.col(f.name).cast(f.dataType).alias(f.name) for f in TRANSCRIPT_SCHEMA)
    ).mapInArrow(extract_turns, schema=EXTRACTED_SCHEMA)


# -- checkpointed run (resume without recompute) --------------------------------


# one row per committed group; resume reads (run_id, partition_id, n_groups,
# state)
CHECKPOINT_DDL = (
    "run_id string, partition_id int, n_groups int, "
    "state string, docs_parsed long, records_decoded long, failures long, "
    "ts long"
)
_CHECKPOINT_FIELDS = [f.split(" ") for f in CHECKPOINT_DDL.split(", ")]


def _fs_exists(spark: SparkSession, path: str) -> bool:
    """Existence check through Hadoop's FileSystem so it answers correctly
    for hdfs:// and s3a:// URIs, not only the local filesystem."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))


def run_with_checkpoints(
    spark: SparkSession,
    transcripts_path: str,
    out_dir: str,
    run_id: str,
    n_groups: int = 8,
    fail_after_groups: int | None = None,
) -> dict:
    """Process the corpus in deterministic hash-bucket groups; each group is
    one Spark job committed with an idempotent overwrite + a checkpoint row.
    Re-running with the same run_id skips completed groups (FIXTURES.md §5).

    Group selection must PRUNE, not rescan: a predicate on
    pmod(xxhash64(conv_id)) cannot push into a parquet scan, so n_groups
    groups would read the corpus n_groups times. The input is therefore
    staged ONCE partitioned by the group key (one scan + one shuffle-free
    write); every group then reads only its own partition directory. On a
    real deployment the input is an Iceberg table bucketed by conv_id and
    the staging step disappears — bucket partition pruning does this for
    free at the metadata layer. With n_groups == 1 there is nothing to
    prune: the one group reads the input directly and nothing is staged.

    Per-group metrics ride the write job via Observation (no second read of
    the written output). The checkpoint row (schema CHECKPOINT_DDL) is
    written from literals, with no Python-side job.

    fail_after_groups is a test hook simulating a killed run."""
    from pyspark.sql import Observation

    ckpt_path = os.path.join(out_dir, "_checkpoints")
    done: set[int] = set()
    # probe first: reading a missing path fails inside the JVM, which logs a
    # PATH_NOT_FOUND stack trace on every fresh run
    if _fs_exists(spark, ckpt_path):
        try:
            ckpt = spark.read.parquet(ckpt_path)
            # group numbers are only meaningful under the SAME n_groups:
            # resuming run_id with a different group count must re-run
            # everything (the staging dir is likewise keyed by n_groups),
            # otherwise rows hashed into a "done-numbered" group of the new
            # partitioning are skipped
            done = {
                r["partition_id"]
                for r in ckpt.where(
                    (F.col("run_id") == run_id)
                    & (F.col("state") == "done")
                    & (F.col("n_groups") == n_groups)
                ).collect()
            }
        except Exception:
            pass  # pre-n_groups checkpoint schema: re-run every group

    staged = None  # one group is the whole input: nothing to prune
    if n_groups > 1:
        # The staging directory is keyed by n_groups: resuming with a
        # different group count must re-stage, not silently skip rows whose
        # grp value exceeds the new n_groups (ADVICE r02). Existence is
        # checked through the Hadoop FileSystem API so the guard also holds
        # on HDFS/S3 paths where os.path.exists is always False and every
        # run would re-scan the corpus.
        staged_path = os.path.join(out_dir, f"_staged_g{n_groups}")
        if not _fs_exists(spark, os.path.join(staged_path, "_SUCCESS")):
            (
                spark.read.parquet(transcripts_path)
                .withColumn("grp", F.pmod(F.xxhash64("conv_id"), F.lit(n_groups)))
                .write.mode("overwrite")
                .partitionBy("grp")
                .parquet(staged_path)
            )
        staged = spark.read.parquet(staged_path)

    processed = 0
    stats = {"groups_run": 0, "groups_skipped": len(done)}
    for group in range(n_groups):
        if group in done:
            continue
        if fail_after_groups is not None and processed >= fail_after_groups:
            stats["killed"] = True
            return stats
        if staged is None:
            subset = spark.read.parquet(transcripts_path)
        else:
            # partition pruning: only the grp=<group> directory is scanned
            subset = staged.where(F.col("grp") == group).drop("grp")
        obs = Observation()
        extracted = run_extraction(subset).observe(obs, *_run_totals())
        group_out = os.path.join(out_dir, f"group={group}")
        (
            extracted.sortWithinPartitions("conv_id", "turn_idx")
            .write.mode("overwrite")
            .parquet(group_out)
        )
        # lineage + metrics row; append is safe because resume filters on
        # (run_id, state, partition_id) and group commits are idempotent
        agg = obs.get
        row = (
            run_id,
            group,
            n_groups,
            "done",
            int(agg["docs_parsed"] or 0),
            int(agg["records_decoded"] or 0),
            int(agg["failures"] or 0),
            int(time.time() * 1000),
        )
        # literals over a one-row range: a JVM-only plan, where a Python
        # list through createDataFrame costs a Python-RDD job
        spark.range(1, numPartitions=1).select(
            *(
                F.lit(v).cast(t).alias(name)
                for v, (name, t) in zip(row, _CHECKPOINT_FIELDS)
            )
        ).write.mode("append").parquet(ckpt_path)
        processed += 1
        stats["groups_run"] += 1
    return stats


def read_extracted(spark: SparkSession, out_dir: str, n_groups: int = 8) -> DataFrame:
    paths = [os.path.join(out_dir, f"group={g}") for g in range(n_groups)]
    # through Hadoop's FileSystem: os.path cannot see file://, hdfs:// or
    # s3a:// URIs
    return spark.read.parquet(*(p for p in paths if _fs_exists(spark, p)))


def _run_totals() -> list:
    """The run totals, one aggregate column each: the rollup that
    extraction_metrics computes and each checkpoint group observes."""
    return [
        F.count(F.lit(1)).alias("turns"),
        F.sum("metrics.docs_parsed").alias("docs_parsed"),
        F.sum("metrics.records_decoded").alias("records_decoded"),
        F.sum("metrics.bytes_decoded").alias("bytes_decoded"),
        F.sum("metrics.failures").alias("failures"),
    ]


def extraction_metrics(extracted: DataFrame) -> DataFrame:
    """Run-level totals (SURVEY.md §2.4 A3/A4): one row of turns,
    docs_parsed, records_decoded, bytes_decoded and failures, through
    Catalyst's partial+final hash aggregate."""
    return extracted.agg(*_run_totals())
