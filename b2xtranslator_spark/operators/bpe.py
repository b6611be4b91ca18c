"""Byte-pair-encoding tokenizer: distributed train + distributed encode.

The missing piece between the corpus operators (chunk_documents /
pack_sequences count whitespace tokens) and model-ready input: a real
subword vocabulary learned FROM the corpus and applied back to it.
Algorithm is the public BPE formulation (Sennrich et al. 2016,
arXiv:1508.07909): start from characters, repeatedly merge the most
frequent adjacent symbol pair.

100 TB shape — the standard two-phase split:

- **train** (`bpe_train`): ONE distributed pass — explode -> hash-agg
  word counts (map-side partial agg) -> cap to the top `max_word_types`
  types by (count desc, word asc). The merge LOOP then runs driver-side
  over that bounded word-type table (vocabulary-sized, NOT corpus-sized —
  the same bounded-fit contract as the IVF quantizer and unigram LM fit;
  word-type counts converge long before the cap at corpus scale, and the
  cap is the explicit knob). Deterministic: pair ties break
  lexicographically, so the merge list is reproducible to the byte.
- **encode** (`bpe_encode`): merges BROADCAST as a plain Python list
  (vocab-sized); the corpus-side encode is a pure Arrow row map — zero
  shuffle, horizontally scaling, the same black-box-map shape as the
  extraction kernel.

Not SQL-expressible (the merge recursion is iterative-greedy), so the
driver gate covers it rows-only; correctness is pinned by pytest goldens
including the classic low/lower/newest/widest corpus from the paper.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StructType

from ..pipeline import map_rows

__all__ = ["bpe_apply_merges", "bpe_encode", "bpe_train", "bpe_train_core"]

_END = "</w>"  # end-of-word marker, per the public formulation


def _word_symbols(word: str) -> tuple[str, ...]:
    return tuple(word[:-1]) + (word[-1] + _END,) if word else ()


def bpe_train_core(
    word_counts: list[tuple[str, int]], n_merges: int
) -> list[tuple[str, str]]:
    """Spark-free merge loop over (word, count) pairs. O(types x merges)
    with incremental pair-count maintenance; deterministic (count desc,
    pair asc) selection."""
    vocab: dict[tuple[str, ...], int] = {}
    for w, c in word_counts:
        if w:
            sym = _word_symbols(w)
            vocab[sym] = vocab.get(sym, 0) + int(c)
    pair_counts: dict[tuple[str, str], int] = {}
    where: dict[tuple[str, str], set[tuple[str, ...]]] = {}
    for sym, c in vocab.items():
        for a, b in zip(sym, sym[1:]):
            pair_counts[(a, b)] = pair_counts.get((a, b), 0) + c
            where.setdefault((a, b), set()).add(sym)
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        best = None
        for pair, c in pair_counts.items():
            if c <= 0:
                continue
            if best is None or c > best[1] or (c == best[1] and pair < best[0]):
                best = (pair, c)
        if best is None:
            break
        pair = best[0]
        merges.append(pair)
        merged = pair[0] + pair[1]
        for sym in list(where.get(pair, ())):
            c = vocab.pop(sym, None)
            if c is None:
                continue
            # remove old pair contributions
            for a, b in zip(sym, sym[1:]):
                pair_counts[(a, b)] -= c
                s = where.get((a, b))
                if s is not None:
                    s.discard(sym)
            # rewrite the word with the pair merged (left-to-right)
            out: list[str] = []
            i = 0
            while i < len(sym):
                if i + 1 < len(sym) and (sym[i], sym[i + 1]) == pair:
                    out.append(merged)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            new = tuple(out)
            vocab[new] = vocab.get(new, 0) + c
            for a, b in zip(new, new[1:]):
                pair_counts[(a, b)] = pair_counts.get((a, b), 0) + c
                where.setdefault((a, b), set()).add(new)
    return merges


def bpe_apply_merges(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Spark-free encode of one word: repeatedly apply the LOWEST-rank
    applicable merge (the standard greedy-by-rank apply)."""
    if not word:
        return []
    sym = list(_word_symbols(word))
    while len(sym) > 1:
        best_rank = None
        best_i = -1
        for i in range(len(sym) - 1):
            r = ranks.get((sym[i], sym[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        sym[best_i : best_i + 2] = [sym[best_i] + sym[best_i + 1]]
    return sym


def bpe_train(
    documents: DataFrame,
    n_merges: int = 1000,
    max_word_types: int = 200_000,
) -> list[tuple[str, str]]:
    """Learn a merge list from the corpus. Distributed part: one explode +
    one partial-agg word-count; the driver sees at most `max_word_types`
    rows (the bounded-fit contract)."""
    counts = (
        documents.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("w"))
        .where(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("w"))
        .limit(max_word_types)
        .collect()
    )
    return bpe_train_core([(r["w"], r["n"]) for r in counts], n_merges)


def bpe_encode(
    documents: DataFrame, merges: list[tuple[str, str]]
) -> DataFrame:
    """(doc_id, tokens array<string>, n_tokens) — pure map over a
    broadcast-by-closure merge table; zero shuffle."""
    ranks = {tuple(p): i for i, p in enumerate(merges)}
    cache: dict[str, list[str]] = {}

    def row(doc_id, text):
        toks: list[str] = []
        for w in (text or "").lower().split():
            got = cache.get(w)
            if got is None:
                got = bpe_apply_merges(w, ranks)
                if len(cache) < 1 << 20:
                    cache[w] = got
            toks.extend(got)
        return [(doc_id, toks, len(toks))]

    return map_rows(
        documents.select("doc_id", "text"),
        StructType.fromDDL("doc_id long, tokens array<string>, n_tokens long"),
        row,
    )
