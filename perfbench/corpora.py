"""Seeded inputs and planted expectations for every workload.

Each builder writes the workload's input parquet (the only thing the
program sees) and an expectation parquet next to it, once per
(workload, seed, parameters); later runs with the same key reuse them.
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
import shutil
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import docgen
import mixedgen

PAYLOAD_PREFIX = "b64cfb:"
MARKUP_PREFIX = "markup:"
_CHAT = mixedgen.WORDS


# bump when a generator's output changes for the same parameters
GENERATOR_VERSION = 6


def corpus_dir(work: Path, workload: str, seed: int, params: dict) -> Path:
    blob = json.dumps([GENERATOR_VERSION, params], sort_keys=True).encode()
    key = hashlib.md5(blob).hexdigest()[:10]
    return work / "corpus" / f"{workload}-s{seed}-{key}"


def publish(final: Path, build) -> Path:
    """Build into a temporary sibling and rename, so a killed run never
    leaves a half-written corpus behind a valid-looking path."""
    if (final / "_DONE").exists():
        return final
    tmp = final.with_name(final.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    build(tmp)
    (tmp / "_DONE").write_text("ok")
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)
    return final


def _conversations(rng: np.random.Generator, n_turns: int) -> tuple[np.ndarray, np.ndarray]:
    """Skewed conversation sizes: most are short, a few run to hundreds."""
    sizes, total = [], 0
    while total < n_turns:
        u = rng.random()
        size = int(rng.integers(100, 300) if u < 0.02 else
                   rng.integers(6, 40) if u < 0.2 else rng.integers(1, 6))
        size = min(size, n_turns - total)
        sizes.append(size)
        total += size
    conv = np.repeat(np.arange(len(sizes)), sizes)
    turn = np.concatenate([np.arange(s) for s in sizes])
    return conv, turn


def write_split(frame: pd.DataFrame, weights: np.ndarray, out: Path, n_files: int) -> None:
    """Contiguous row ranges of about equal weight, one parquet file each."""
    out.mkdir(parents=True, exist_ok=True)
    cum = np.cumsum(weights)
    cuts = [0] + [int(np.searchsorted(cum, cum[-1] * k / n_files)) for k in range(1, n_files)]
    cuts.append(len(frame))
    for k, (a, b) in enumerate(zip(cuts, cuts[1:])):
        table = pa.Table.from_pandas(frame.iloc[a:b], preserve_index=False)
        pq.write_table(table, out / f"part-{k:05d}.parquet", coerce_timestamps="us")


def _transcripts(rng, p: dict, make_payload) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Rows of (conv_id, turn_idx, role, text, tool, ts) plus expectation
    rows (conv_id, turn_idx, status, text, payload_bytes)."""
    conv, turn = _conversations(rng, p["turns"])
    n = len(conv)
    # exact counts, so every seed carries the same number of documents
    is_doc = np.zeros(n, dtype=bool)
    is_doc[rng.choice(n, round(n * p["doc_fraction"]), replace=False)] = True
    in_tool = rng.random(n) < p["tool_column_share"]
    chat = [" ".join(_CHAT[i] for i in rng.integers(0, len(_CHAT), int(rng.integers(3, 16))))
            for _ in range(n)]
    docs = make_payload(int(is_doc.sum()))
    text, tool, exp_text, exp_status, nbytes = [], [], [], [], []
    d = 0
    for i in range(n):
        if is_doc[i]:
            cell, expected, size = docs[d]
            d += 1
            if in_tool[i]:
                text.append(chat[i])
                tool.append(cell)
            else:
                text.append(cell)
                tool.append("")
            exp_text.append(expected)
            exp_status.append("ok")
            nbytes.append(size)
        else:
            text.append(chat[i])
            tool.append("")
            exp_text.append(chat[i])
            exp_status.append("skipped")
            nbytes.append(0)
    conv_id = [f"conv-{c:06d}" for c in conv]
    frame = pd.DataFrame({
        "conv_id": conv_id,
        "turn_idx": turn.astype("int32"),
        "role": np.array(["user", "assistant", "tool"])[turn % 3],
        "text": text,
        "tool": tool,
        "ts": pd.Timestamp("2026-01-01") + pd.to_timedelta(np.arange(n), unit="s"),
    })
    expected = pd.DataFrame({
        "conv_id": conv_id,
        "turn_idx": turn.astype("int32"),
        "status": exp_status,
        "text": exp_text,
        "payload_bytes": np.array(nbytes, dtype="int64"),
    })
    return frame, expected


def _finish(out: Path, frame: pd.DataFrame, expected: pd.DataFrame, n_files: int) -> None:
    weights = frame["text"].str.len().to_numpy() + frame["tool"].str.len().to_numpy()
    write_split(frame, weights.astype("float64"), out / "input", n_files)
    pq.write_table(pa.Table.from_pandas(expected, preserve_index=False), out / "expected.parquet")


def build_doc_cold(work: Path, seed: int, p: dict) -> Path:
    def build(out: Path) -> None:
        rng = np.random.default_rng([seed, 101])
        ln = p["payload_bytes_lognormal"]

        def payloads(k: int):
            sizes = docgen.lognormal_sizes(rng, k, ln["median"], ln["sigma"], ln["min"],
                                           ln["max"], p["payload_bytes_total"])
            docs = []
            for size in sizes:
                chars = max(p["text_chars_min"], int(size * p["text_chars_per_payload_byte"]))
                payload, expected = docgen.make_doc(
                    docgen.plan_text(rng, chars, p["utf16_piece_share"]), rng, pad_to=size)
                docs.append((PAYLOAD_PREFIX + base64.b64encode(payload).decode("ascii"),
                             expected, len(payload)))
            return docs

        frame, expected = _transcripts(rng, p, payloads)
        _finish(out, frame, expected, p["input_files"])

    return publish(corpus_dir(work, "doc_cold", seed, p), build)


def build_checkpoint_mixed(work: Path, seed: int, p: dict) -> Path:
    def build(out: Path) -> None:
        rng = np.random.default_rng([seed, 303])
        ln = p["text_chars_lognormal"]
        names = sorted(p["format_mix"])
        mix = np.array([p["format_mix"][f] for f in names], dtype="float64")

        def payloads(k: int):
            # the first document has nothing to repeat
            repeat = np.zeros(k, dtype=bool)
            repeat[1 + rng.choice(k - 1, round(k * p["repeat_fraction"]), replace=False)] = True
            sizes = iter(docgen.lognormal_sizes(
                rng, int((~repeat).sum()), ln["median"], ln["sigma"], ln["min"], ln["max"],
                p["text_chars_total"]))
            docs: list[tuple[str, str, int]] = []
            for again in repeat:
                if again:
                    back = int(rng.integers(1, min(p["repeat_distance_docs"], len(docs)) + 1))
                    docs.append(docs[-back])
                    continue
                fmt = names[int(rng.choice(len(names), p=mix / mix.sum()))]
                payload, expected = mixedgen.BUILDERS[fmt](rng, next(sizes))
                if fmt == "markup" and rng.random() < p["markup_raw_prefix_share"]:
                    cell = MARKUP_PREFIX + payload.decode("utf-8")
                else:
                    cell = PAYLOAD_PREFIX + base64.b64encode(payload).decode("ascii")
                docs.append((cell, expected, len(payload)))
            return docs

        frame, expected = _transcripts(rng, p, payloads)
        _finish(out, frame, expected, p["input_files"])

    return publish(corpus_dir(work, "checkpoint_mixed", seed, p), build)
