"""The curation half of checkpoint_curate: a seeded document corpus with planted filter outcomes and
near-duplicates, plus expectations computed without Spark.

- corpus_filter: every document is generated for one target reason
  (ok, lang, quality, dup_lines, bigram, duplicate) with wide margins from
  the filter's thresholds, so the reason is known by construction.
- dedup_pipeline: a pure-Python MinHash (md5 double hashing over 4-word
  shingles), LSH banding, word-set Jaccard verify and connected components,
  following the operator's documented definitions.
- chunk_documents: list slicing over the lower-cased space-split tokens;
  chunks are compared by md5 of their text.
"""

from __future__ import annotations

import hashlib
import math
import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from corpora import corpus_dir, publish, write_split

EN_STOP = ["the", "and", "of", "to", "in", "is", "that", "for", "with", "was"]
OTHER_STOP = {
    "de": ["der", "die", "und", "das", "ist", "nicht", "mit", "ein", "zu", "den"],
    "fr": ["le", "les", "et", "des", "est", "dans", "pour", "une", "que"],
    "es": ["el", "los", "las", "por", "para", "una", "con", "del"],
}
_CONTENT = (
    "system data model training corpus document pipeline cluster storage "
    "network request response latency throughput memory processor compiler "
    "language translation archive extraction parser format container stream "
    "sector table record field value result quality signal filter sample "
    "window token vocabulary gradient optimizer schedule checkpoint shard "
    "replica partition executor driver worker thread kernel buffer cache "
    "library function module interface contract protocol message payload "
    "attachment conversation transcript summary report analysis measurement"
).split()
_NUMERIC = ["4821", "77", "0x3f", "##", "%%", "12.5", "9000", "--", "3/4", "$$",
            "2026", "404", "++", "1e9", "@@", "255", "==", "16", "<>", "~~"]

CHUNK_TOKENS = 128
CHUNK_OVERLAP = 16
_WS = re.compile(r"[ \t\n\x0b\f\r]+")  # java.util.regex \s


def _sentence(rng, n: int, stop: list[str], stop_share: float, content=_CONTENT) -> str:
    words = []
    for _ in range(n):
        pool = stop if rng.random() < stop_share else content
        words.append(pool[int(rng.integers(len(pool)))])
    return " ".join(words) + "."


def _stopline(rng, stop: list[str]) -> str:
    """Every stopword once, in a per-document order (a shared fixed line
    would make unrelated short documents look alike to MinHash)."""
    return " ".join(stop[i] for i in rng.permutation(len(stop))) + "."


def _english(rng, n_words: int) -> str:
    """Distinct lines of English-like text carrying all ten stopwords."""
    lines, left = [_stopline(rng, EN_STOP)], n_words - len(EN_STOP)
    while left > 0:
        k = int(min(left, rng.integers(8, 20)))
        lines.append(_sentence(rng, k, EN_STOP, 0.3))
        left -= k
    return "\n".join(lines)


def _make(rng, reason: str, n_words: int) -> str:
    if reason == "ok":
        return _english(rng, n_words)
    if reason == "lang":
        lang = ["de", "fr", "es"][int(rng.integers(3))]
        stop = OTHER_STOP[lang]
        return _stopline(rng, stop) + "\n" + "\n".join(
            _sentence(rng, 12, stop, 0.4) for _ in range(max(1, n_words // 12)))
    if reason == "quality":
        # three English stopwords (language stays en) in symbol/number soup
        body = " ".join(_NUMERIC[int(rng.integers(len(_NUMERIC)))] + str(int(rng.integers(1000)))
                        for _ in range(n_words))
        return "the and of " + body
    if reason == "dup_lines":
        base = [_sentence(rng, 12, EN_STOP, 0.3) for _ in range(3)]
        lines = [_stopline(rng, EN_STOP)] + [base[i % 3] for i in range(max(9, n_words // 12))]
        return "\n".join(lines)
    if reason == "bigram":
        pair = " ".join(_CONTENT[i] for i in rng.integers(len(_CONTENT), size=2))
        return _english(rng, 40) + "\n" + " ".join([pair] * max(40, n_words))
    raise ValueError(reason)


def build_curate(work, seed: int, p: dict):
    def build(out) -> None:
        rng = np.random.default_rng([seed, 505])
        classes = sorted(p["class_mix"])
        mix = np.array([p["class_mix"][c] for c in classes], dtype="float64")
        texts, reasons = [], []
        ok_ids: list[int] = []
        for doc_id in range(p["docs"]):
            cls = classes[int(rng.choice(len(classes), p=mix / mix.sum()))]
            n_words = int(rng.integers(p["words_per_doc"]["min"], p["words_per_doc"]["max"]))
            if cls in ("duplicate", "near_duplicate") and ok_ids:
                src = texts[ok_ids[int(rng.integers(len(ok_ids)))]]
                if cls == "duplicate":
                    # identical after lower-casing and whitespace collapsing
                    texts.append(src.upper().replace(" ", "  ", 3).replace("\n", " \n"))
                    reasons.append("duplicate")
                else:
                    # the reference number keeps two copies of one source distinct
                    texts.append(f"{src} forwarded copy {_CONTENT[int(rng.integers(len(_CONTENT)))]}"
                                 f" ref{doc_id}")
                    reasons.append("ok")
                continue
            if cls in ("duplicate", "near_duplicate"):
                cls = "ok"
            texts.append(_make(rng, cls, n_words))
            reasons.append(cls)
            if cls == "ok":
                ok_ids.append(doc_id)
        docs = pd.DataFrame({"doc_id": np.arange(len(texts), dtype="int64"), "text": texts})
        write_split(docs, docs["text"].str.len().to_numpy().astype("float64"),
                     out / "input", p["input_files"])
        pq.write_table(pa.Table.from_pandas(
            pd.DataFrame({"doc_id": docs["doc_id"], "reason": reasons}), preserve_index=False),
            out / "expected_filter.parquet")

    return publish(corpus_dir(work, "curate_text", seed, p), build)


# -- independent expectations ---------------------------------------------------


def _md5(s: str) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def expected_dedup(docs: pd.DataFrame, num_hashes: int = 16, bands: int = 4,
                   shingle_len: int = 4, threshold: float = 0.5) -> tuple[dict, int, int]:
    """doc_id -> cluster_id, plus (candidate pairs, verified pairs)."""
    norm = {int(d): _WS.sub(" ", t.lower()).split(" ")
            for d, t in zip(docs["doc_id"], docs["text"])}
    rows = num_hashes // bands
    buckets: dict[tuple[int, int], list[int]] = {}
    seeds = np.arange(num_hashes, dtype="int64")
    for d, words in norm.items():
        digests = [_md5(" ".join(words[i : i + shingle_len]))
                   for i in range(max(len(words) - shingle_len, 0) + 1)]
        h1 = np.array([int(h[:15], 16) for h in digests], dtype="int64")
        h2 = np.array([int(h[16:26], 16) for h in digests], dtype="int64")
        # h1 < 2^60 and 15 * h2 < 2^44: no int64 overflow
        mins = (h1[:, None] + seeds[None, :] * h2[:, None]).min(axis=0).tolist()
        for b in range(bands):
            key = ",".join(str(v) for v in mins[b * rows : (b + 1) * rows])
            bucket = int(_md5(f"{1000 + b}|{key}")[:15], 16)
            buckets.setdefault((b, bucket), []).append(d)
    pairs = {(min(x, y), max(x, y)) for ids in buckets.values() if len(ids) >= 2
             for i, x in enumerate(ids) for y in ids[i + 1 :]}
    vocab = {d: {w for w in words if len(w) > 2} for d, words in norm.items()}
    parent = {d: d for d in norm}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    verified = 0
    for a, b in pairs:
        va, vb = vocab[a], vocab[b]
        common = len(va & vb)
        if not common:
            continue
        if round(common / (len(va) + len(vb) - common), 6) >= threshold:
            verified += 1
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
    return {d: find(d) for d in norm}, len(pairs), verified


def expected_chunks(docs: pd.DataFrame) -> dict[tuple[int, int], tuple[str, int]]:
    """(doc_id, chunk_idx) -> (md5 of chunk_text, n_tokens)."""
    stride = CHUNK_TOKENS - CHUNK_OVERLAP
    out = {}
    for d, t in zip(docs["doc_id"], docs["text"]):
        ws = t.lower().split(" ")
        n = len(ws)
        n_chunks = 1 if n <= CHUNK_TOKENS else math.ceil((n - CHUNK_TOKENS) / stride) + 1
        for i in range(n_chunks):
            out[(int(d), i)] = (_md5(" ".join(ws[i * stride : i * stride + CHUNK_TOKENS])),
                                min(n - i * stride, CHUNK_TOKENS))
    return out
