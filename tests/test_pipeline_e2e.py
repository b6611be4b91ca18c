"""Tier-2: local-Spark end-to-end extraction over a synthetic transcript
table, verified by an equality join against the expected fixture table
(FIXTURES.md §6.2); plus stable-ordering and metrics checks."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from b2xtranslator_spark.formats.word.extract import normalize_text
from b2xtranslator_spark.pipeline import extraction_metrics, run_extraction
from b2xtranslator_spark.sources.transcripts import (
    load_sample_corpus,
    synthesize_transcripts,
)
from tests.test_doc_fixtures import KNOWN_DEVIATIONS

N_TURNS = 600


@pytest.fixture(scope="module")
def corpus():
    df = load_sample_corpus()
    if df.empty:
        pytest.skip("reference sample corpus unavailable")
    return df


@pytest.fixture(scope="module")
def extracted_vs_expected(spark, corpus):
    transcripts, expected = synthesize_transcripts(
        spark, n_turns=N_TURNS, doc_fraction=0.5, corpus=corpus
    )
    extracted = run_extraction(transcripts)
    joined = extracted.join(
        expected, ["conv_id", "turn_idx"], "full_outer"
    ).toPandas()
    return joined


def _row_ok(row) -> bool:
    expected = (row["expected_text"] or "").lower()
    actual = (normalize_text(row["text"]) or "").lower()
    if actual == expected:
        return True
    # expected-error matching, as in the reference integration tests
    err = (normalize_text(row["error"]) or "").lower() if row["error"] else ""
    return bool(expected) and expected in err


# pipeline-surface deviations beyond the doc-fixture residue: the reference
# REJECTS RTF payloads with the CFB magic-number error (its expected.txt for
# this sample IS that error message); the pipeline's payload sniff extracts
# the actual RTF text instead — a deliberate capability extension
# (formats/rtf.py, golden-covered in tests/test_rtf.py). The doc2text CLI
# surface keeps exact reference parity (no sniff on the Word path;
# tests/test_doc_fixtures.py still passes this sample as the error).
# capability deviations: payloads whose .doc extension lies about the
# format. The reference rejects both with the CFB magic-number error (its
# expected.txt IS that error); the pipeline's content sniff extracts the
# real text instead. The doc2text CLI surface keeps exact reference
# parity (no sniff on the Word path). Positive contracts below assert
# each actually extracts.
PIPELINE_DEVIATIONS = set(KNOWN_DEVIATIONS) | {
    "sample3-is-an-rtf-file.doc",
    "docx-wrong-ext.doc",
}


def test_per_turn_text_equality(extracted_vs_expected):
    df = extracted_vs_expected
    doc_rows = df[df["sample_name"].notna()]
    assert len(doc_rows) > 0
    hard = doc_rows[~doc_rows["sample_name"].isin(PIPELINE_DEVIATIONS)]
    bad = [r["sample_name"] for _, r in hard.iterrows() if not _row_ok(r)]
    assert not bad, f"{len(bad)} mismatching turns: {sorted(set(bad))[:10]}"


def test_docx_disguised_doc_extracts_instead_of_erroring(extracted_vs_expected):
    """Same contract as the RTF twin below: the OOXML zip magic wins over
    the lying .doc extension; real text, not the magic-number error."""
    df = extracted_vs_expected
    rows = df[df["sample_name"] == "docx-wrong-ext.doc"]
    if rows.empty:
        return  # not drawn into this corpus sample
    assert (rows["status"] == "ok").all()
    assert rows["text"].str.contains("DOCX FILE").all()


def test_rtf_disguised_doc_extracts_instead_of_erroring(extracted_vs_expected):
    """The capability-extension contract for the deviation above: the RTF
    sample must extract OK with real text, not surface the reference's
    magic-number error."""
    df = extracted_vs_expected
    rows = df[df["sample_name"] == "sample3-is-an-rtf-file.doc"]
    if rows.empty:
        return  # not drawn into this corpus sample
    assert (rows["status"] == "ok").all()
    assert rows["text"].str.len().min() > 100


def test_no_missing_or_extra_rows(extracted_vs_expected):
    df = extracted_vs_expected
    # full outer join: every expected row must have an extraction result
    doc_rows = df[df["sample_name"].notna()]
    assert doc_rows["status"].notna().all(), "expected rows missing from output"


def test_passthrough_rows_keep_text(extracted_vs_expected):
    df = extracted_vs_expected
    chat = df[df["sample_name"].isna()]
    assert (chat["status"] == "skipped").all()
    assert (chat["text"].str.len() > 0).all()


def test_stable_ordering_within_conversation(spark, corpus):
    transcripts, _ = synthesize_transcripts(
        spark, n_turns=300, doc_fraction=0.2, corpus=corpus
    )
    extracted = run_extraction(transcripts).sortWithinPartitions(
        "conv_id", "turn_idx"
    )
    pdf = extracted.select("conv_id", "turn_idx").toPandas()
    # within each output partition file order, (conv_id, turn_idx) is sorted;
    # globally per conversation the set of turn_idx must be exactly 0..n-1
    per_conv = pdf.groupby("conv_id")["turn_idx"].agg(["count", "min", "max"])
    assert (per_conv["min"] == 0).all()
    assert (per_conv["max"] == per_conv["count"] - 1).all()


def test_metrics_aggregation(spark, corpus):
    transcripts, expected = synthesize_transcripts(
        spark, n_turns=200, doc_fraction=0.5, corpus=corpus
    )
    extracted = run_extraction(transcripts)
    m = extraction_metrics(extracted).collect()[0]
    n_docs = expected.count()
    assert m["turns"] == 200
    assert m["docs_parsed"] + m["failures"] >= n_docs * 0.9
    assert m["bytes_decoded"] > 0


def test_spans_cover_text(spark, corpus):
    transcripts, _ = synthesize_transcripts(
        spark, n_turns=120, doc_fraction=1.0, corpus=corpus
    )
    rows = (
        run_extraction(transcripts)
        .where(F.col("status") == "ok")
        .select("text", "spans")
        .toPandas()
    )
    assert len(rows) > 0
    for _, r in rows.iterrows():
        spans = r["spans"]
        if not len(spans):
            assert r["text"] == ""
            continue
        assert spans[0]["start"] == 0
        assert spans[-1]["end"] == len(r["text"])
        for a, b in zip(spans, spans[1:]):
            assert a["end"] == b["start"]


def test_oversize_payload_and_output_chunking(spark, monkeypatch):
    """Memory guards (SURVEY.md §7 / ISSUE-003): a payload over
    budget.MAX_PAYLOAD_BYTES becomes an error row (never a worker OOM), and
    the map kernel yields byte-bounded output slices whose union is exactly
    the batch."""
    import base64

    import pandas as pd

    import b2xtranslator_spark.pipeline as pl
    from b2xtranslator_spark import budget
    from b2xtranslator_spark.sources.binfixtures import build_xls_fixture

    doc, expected = build_xls_fixture()
    payload = pl.PAYLOAD_PREFIX + base64.b64encode(doc).decode()

    monkeypatch.setattr(budget, "MAX_PAYLOAD_BYTES", 1024)
    monkeypatch.setattr(pl, "_OUT_CHUNK_BYTES", 2 * len(payload))
    batch = pd.DataFrame(
        {
            "conv_id": ["c"] * 6,
            "turn_idx": range(6),
            "text": [payload, "chat", None, payload, "more chat", payload],
            "tool": [None] * 6,
        }
    )
    frames = list(pl.extract_turns(iter([batch])))
    assert len(frames) > 1, "expected byte-bounded chunked output"
    out = pd.concat(frames, ignore_index=True)
    assert len(out) == 6
    assert list(out["turn_idx"]) == list(range(6))  # order preserved
    assert (out.loc[[0, 3, 5], "status"] == "oversize").all()
    assert (out["status"] == "oversize").sum() == 3
    assert out.loc[2, "status"] == "skipped"  # empty chat row passes through
    assert out.loc[1, "status"] == "skipped" and out.loc[1, "text"] == "chat"

    # under the default cap the same payload decodes fine
    monkeypatch.setattr(budget, "MAX_PAYLOAD_BYTES", 256 << 20)
    ok = pl._extract_one(payload, None)
    assert ok[2] == "ok"
    assert ok[0] == expected


def test_markup_and_pdf_fixtures_ride_the_flagship(spark, corpus):
    """The html/pdf corpus members must be present, sampled turns of them
    must extract byte-identically, and their kinds dispatch correctly."""
    import base64

    from b2xtranslator_spark.extractors import extract_payload_text

    from b2xtranslator_spark.formats.word.extract import normalize_text

    rows = corpus[corpus["sample_name"].isin(["synthetic.html", "synthetic.pdf"])]
    assert len(rows) == 2
    for _, r in rows.iterrows():
        payload = base64.b64decode(r["payload_b64"][len("b64cfb:"):])
        res = extract_payload_text(payload)
        assert res.status == "ok"
        assert res.kind == ("html" if r["sample_name"].endswith("html") else "pdf")
        # the actual parity contract, not just dispatch: extraction equals
        # the corpus's declared expected text under the verify-join's
        # normalization (hash-based sampling doesn't guarantee these two
        # fixtures land in the 300-turn equality test)
        assert (normalize_text(res.text) or "") == r["expected_text"]
