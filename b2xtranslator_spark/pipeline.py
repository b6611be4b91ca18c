"""Spark extraction pipeline: transcripts in, extracted text + spans out.

Architecture (SURVEY.md §3 "Spark lifecycle"):

    read transcripts (column-pruned)
      -> mapInPandas(extract_turns)           (Arrow batches over the scan
                                               splits; pure per-document map)
      -> per group: sort within partitions by (conv_id, turn_idx) and
         write <out>/group=<g>/ map-only

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
import os
import time
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
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
# payload prefix -> (is_markup, main_content); the markup ones carry raw
# HTML, the other base64 document bytes
_PREFIXES = {
    PAYLOAD_PREFIX: (False, False),
    MARKUP_MAIN_PREFIX: (True, True),
    MARKUP_PREFIX: (True, False),
}
_PREFIX_TUPLE = tuple(_PREFIXES)

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
# OUTPUT frame + its Arrow serialization buffer are extra copies — yielding
# in byte-bounded slices caps that additional footprint per batch.
_OUT_CHUNK_BYTES = 64 << 20


def _extract_one(text: str | None, tool: str | None) -> tuple:
    """Extract a single document turn. The payload may arrive in `text` OR
    `tool` (BASELINE.json input_hint); the kernel calls this only for rows
    where one of them carries a payload prefix (chat rows never get here)."""
    global _DECODE_CACHE
    import hashlib

    from .extractors import extract_payload_text  # module-cached after first call

    src = text if text and text.startswith(_PREFIX_TUPLE) else tool
    prefix = next(p for p in _PREFIXES if src.startswith(p))
    is_markup, main_content = _PREFIXES[prefix]
    body = src[len(prefix):]

    # the oversize gate must run BEFORE the cache key (an md5 over the full
    # source) so repeated oversize rows never pay a multi-hundred-MB hash
    # for a result that is never cached. Binary payloads: exact from the
    # base64 ratio. Markup: a char count UNDER-measures UTF-8 (CJK/emoji
    # are 2-4 bytes/char), so chars > cap rejects immediately (UTF-8 is
    # >= 1 byte/char) and anything smaller is measured by an exact encode —
    # bounded at cap chars, i.e. never the multi-GB worst case the gate
    # exists to stop.
    cap = budget.MAX_PAYLOAD_BYTES
    if is_markup:
        byte_len = len(body) if len(body) > cap else len(body.encode("utf-8"))
    else:
        byte_len = len(body) // 4 * 3
    if byte_len > cap:
        return ("", [], "oversize", budget.oversize_error(byte_len), (0, 0, 0, 1, 0))

    if _DECODE_CACHE is None:
        from collections import OrderedDict

        _DECODE_CACHE = OrderedDict()
    # Hash the exact payload bytes: an ascii-'replace' digest would map a
    # literal '?' and any non-ASCII char at the same position to the same
    # key, letting one row be served another row's cached result (ADVICE
    # r02). utf-8 is injective on str, so collisions need an md5 break. The
    # prefix is hashed too, so markup: and markup_main: never share a key.
    key = hashlib.md5(src.encode("utf-8")).digest()
    hit = _DECODE_CACHE.get(key)
    if hit is not None:
        _DECODE_CACHE.move_to_end(key)
        return hit
    if is_markup:
        res = extract_payload_text(
            body.encode("utf-8"), force_kind="html", html_main_content=main_content
        )
    else:
        try:
            payload = base64.b64decode(body)
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


def extract_turns(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: one Arrow batch of turns in, one batch of
    extracted rows out. Non-payload (chat) rows never enter a per-row Python
    conditional: the whole batch is mask-assigned with vectorized pandas ops
    and only the document-bearing indices loop into the parser core (which
    vectorizes its own byte work internally)."""
    import numpy as np

    for whole in batches:
        # byte-bounded slicing: one slice's outputs (and their Arrow
        # serialization) are the only extra copies alive at a time, so a
        # batch of huge attachments cannot triple-buffer itself into an OOM
        sizes = (
            whole["text"].str.len().to_numpy(dtype="float64", na_value=0.0)
            + whole["tool"].str.len().to_numpy(dtype="float64", na_value=0.0)
        )
        cuts = [0]
        acc = 0
        for r, sz in enumerate(sizes):
            acc += int(sz)
            if acc >= _OUT_CHUNK_BYTES and r + 1 < len(whole):
                cuts.append(r + 1)
                acc = 0
        cuts.append(len(whole))
        slices = (
            [whole]
            if len(cuts) == 2
            else [whole.iloc[a:b] for a, b in zip(cuts, cuts[1:]) if b > a]
        )
        yield from _extract_frames(slices, np)


def _extract_frames(slices, np) -> Iterator[pd.DataFrame]:
    for pdf in slices:
        text_s = pdf["text"]
        tool_s = pdf["tool"]
        is_doc = (
            text_s.str.startswith(_PREFIX_TUPLE, na=False)
            | tool_s.str.startswith(_PREFIX_TUPLE, na=False)
        ).to_numpy()

        # vectorized passthrough defaults for every row (chat rows keep them)
        passthrough = text_s.fillna("")
        texts = passthrough.to_numpy(dtype=object).copy()
        lens = passthrough.str.len().to_numpy()
        spans = [[("main", 0, int(n))] for n in lens]
        statuses = np.full(len(pdf), "skipped", dtype=object)
        errors: list = [None] * len(pdf)
        metrics: list = [(0, 0, int(n), 0, 0) for n in lens]

        for i in np.nonzero(is_doc)[0]:
            t, s, st, err, m = _extract_one(text_s.iat[i], tool_s.iat[i])
            texts[i] = t
            spans[i] = s
            statuses[i] = st
            errors[i] = err
            metrics[i] = m
        yield pd.DataFrame(
            {
                "conv_id": pdf["conv_id"].values,
                "turn_idx": pdf["turn_idx"].values,
                "text": texts,
                "spans": spans,
                "status": statuses,
                "error": errors,
                "metrics": metrics,
            }
        )


def run_extraction(transcripts: DataFrame) -> DataFrame:
    """Arrow-batched extraction mapped directly over the scan partitions —
    ZERO shuffle. The payload column is the bulk of the data, so not moving
    it before a pure per-document map is the single biggest overhead saving
    (measured 32% wall at 8 cores vs a salted pre-shuffle); input split
    sizing (spark.sql.files.maxPartitionBytes=32MB) controls balance
    instead. The sink (run_with_checkpoints) writes map-only too, so no
    step shuffles rows by conversation, and a giant conversation cannot
    make one task larger than its own input splits."""
    return transcripts.select("conv_id", "turn_idx", "text", "tool").mapInPandas(
        extract_turns, schema=EXTRACTED_SCHEMA
    )


# -- checkpointed run (resume without recompute) --------------------------------


# one row per committed group; resume reads (run_id, partition_id, n_groups,
# state)
CHECKPOINT_DDL = (
    "run_id string, partition_id int, conv_bucket int, n_groups int, "
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
