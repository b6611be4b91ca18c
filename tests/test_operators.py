"""Operator-level Spark tests: dedup/similarity/multimodal behavior that the
DuckDB oracle can't express (xxhash-based LSH, NumPy feature kernels)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from b2xtranslator_spark.operators.dedup import (
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash,
)
from b2xtranslator_spark.operators.multimodal import (
    run_media_features,
    synthesize_media,
)
from b2xtranslator_spark.operators.similarity import (
    cosine_topk_bruteforce,
    cosine_topk_lsh,
    lsh_bucket,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    # add guaranteed near-duplicates: same text with one word changed
    dup = base.where(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" trailing-edit")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    return base.unionByName(dup)


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_minhash_lsh_finds_planted_near_dups(docs):
    pairs = minhash_lsh_candidates(docs, num_hashes=16, bands=8).toPandas()
    found = {(r.doc_a, r.doc_b) for r in pairs.itertuples()}
    planted = {(i, i + 100000) for i in range(5)}
    assert planted <= found, f"missing planted near-dups: {planted - found}"


def test_minhash_is_deterministic(docs):
    a = minhash_lsh_candidates(docs, 16, 8).toPandas().sort_values(["doc_a", "doc_b"])
    b = minhash_lsh_candidates(docs, 16, 8).toPandas().sort_values(["doc_a", "doc_b"])
    pd.testing.assert_frame_equal(a.reset_index(drop=True), b.reset_index(drop=True))


def test_simhash_near_dups_are_close(docs):
    sh = simhash(docs).toPandas().set_index("doc_id")["simhash"]
    for i in range(5):
        dist = bin(int(sh[i]) ^ int(sh[i + 100000])).count("1")
        assert dist <= 8, f"planted near-dup hamming distance too large: {dist}"


def test_jaccard_of_planted_dups_is_high(docs):
    pairs = ngram_jaccard_pairs(docs, threshold=0.8).toPandas()
    found = {(r.doc_a, r.doc_b) for r in pairs.itertuples()}
    assert {(i, i + 100000) for i in range(5)} <= found


def test_lsh_topk_recall_vs_bruteforce(embeddings):
    brute = cosine_topk_bruteforce(embeddings, 0, 10).toPandas()
    ann = cosine_topk_lsh(embeddings, 0, 50, n_planes=3).toPandas()
    # with 3 planes the query bucket holds ~1/8 of vectors; require that the
    # ANN result is a subset of correctly-scored vectors and overlaps the
    # exact top-10
    overlap = set(brute.vec_id) & set(ann.vec_id)
    assert len(overlap) >= 1
    merged = brute.merge(ann, on="vec_id", suffixes=("_b", "_a"))
    assert (merged.cosine_b - merged.cosine_a).abs().max() < 1e-9


def test_lsh_buckets_partition_the_space(embeddings):
    b = lsh_bucket(embeddings, n_planes=4).toPandas()
    assert b.bucket.between(0, 15).all()
    assert b.bucket.nunique() > 1


def test_media_feature_plumbing(spark):
    media = synthesize_media(spark, n_rows=48)
    feats = run_media_features(media).toPandas()
    assert len(feats) == 48
    assert (feats.status == "ok").all()
    assert feats.feature.map(len).eq(16).all()
    # deterministic across runs
    again = run_media_features(synthesize_media(spark, n_rows=48)).toPandas()
    a = feats.sort_values("media_id").reset_index(drop=True)
    b = again.sort_values("media_id").reset_index(drop=True)
    assert (a.feature.map(tuple) == b.feature.map(tuple)).all()


def test_simhash_pairs_find_planted_dups(docs, spark):
    """Banded pigeonhole join: exact duplicates (hamming 0) must always be
    candidates; planted one-word edits must appear when within the bound."""
    from b2xtranslator_spark.operators.dedup import simhash_candidate_pairs

    # exact duplicates: copy 3 docs verbatim under new ids
    dup = docs.where(F.col("doc_id") < 3).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    corpus = docs.unionByName(dup)
    pairs = simhash_candidate_pairs(corpus, max_hamming=0).toPandas()
    found = {(r.doc_a, r.doc_b) for r in pairs.itertuples()}
    assert {(i, i + 200000) for i in range(3)} <= found
    assert (pairs.hamming == 0).all()


def test_embedding_lsh_equals_exact(embeddings):
    """The banded-LSH candidates + exact verify must reproduce the exact
    cross-join operator pair-for-pair (the LSH is a plan change, not a
    semantics change, at the tuned recall)."""
    from b2xtranslator_spark.operators.dedup import embedding_near_duplicates
    from b2xtranslator_spark.operators.similarity import (
        embedding_near_duplicates_lsh,
    )

    exact = embedding_near_duplicates(embeddings, threshold=0.35, max_vecs=200)
    want = {(r.vec_a, r.vec_b, r.cosine) for r in exact.toPandas().itertuples()}
    assert want, "test corpus should contain pairs above threshold"
    lsh = embedding_near_duplicates_lsh(embeddings, threshold=0.35, max_vecs=200)
    got = {(r.vec_a, r.vec_b, r.cosine) for r in lsh.toPandas().itertuples()}
    assert got == want, f"{len(got ^ want)} differing pairs"


def test_ivf_topk_scores_exactly_and_recalls(embeddings):
    """IVF ANN: scored candidates must carry EXACT cosines (agree with brute
    force on intersection) and the probed clusters must recover a usable
    share of the true top-k."""
    from b2xtranslator_spark.operators.similarity import cosine_topk_bruteforce, ivf_topk

    brute = cosine_topk_bruteforce(embeddings, 0, 10).toPandas()
    ann = ivf_topk(embeddings, 0, k=50, n_clusters=8, n_probe=4).toPandas()
    merged = brute.merge(ann, on="vec_id", suffixes=("_b", "_a"))
    assert len(merged) >= 3, "too few of the true top-10 recovered"
    assert (merged.cosine_b - merged.cosine_a).abs().max() < 1e-9
    # determinism: same seed, same result
    again = ivf_topk(embeddings, 0, k=50, n_clusters=8, n_probe=4).toPandas()
    assert ann.vec_id.tolist() == again.vec_id.tolist()


def test_winnowing_shares_fingerprints_on_copied_passage(spark):
    """Winnowing is a passage-overlap detector: a document that copies a
    paragraph from another must share many fingerprints with it, while
    unrelated documents share few."""
    import pandas as pd

    from b2xtranslator_spark.operators.textstats import winnowing_fingerprints

    passage = "the quick brown fox jumps over the lazy dog again and again " * 4
    rows = [
        (0, passage + "unique tail zero", "en", "syn", 100),
        (1, "completely different text about spark plans and shuffles " * 5, "en", "syn", 100),
        (2, "prefix words here " + passage, "en", "syn", 100),  # copies the passage
    ]
    docs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"])
    )
    fps = winnowing_fingerprints(docs).toPandas()
    by_doc = {d: set(g.fp) for d, g in fps.groupby("doc_id")}
    overlap_copy = len(by_doc[0] & by_doc[2])
    overlap_unrelated = len(by_doc[0] & by_doc[1])
    assert overlap_copy > 10 * max(1, overlap_unrelated), (
        overlap_copy, overlap_unrelated
    )


def test_multimodal_resize_and_frame_sampling(spark):
    """The named multimodal surface beyond feature extraction: thumbnail
    resize and video frame sampling — stubbed codec, real Spark plumbing
    (exploded row shape, deterministic outputs, row-level tolerance)."""
    from b2xtranslator_spark.operators.multimodal import (
        resize_thumbnails,
        sample_frames,
        synthesize_media,
    )

    media = synthesize_media(spark, n_rows=30)
    thumbs = resize_thumbnails(media).toPandas()
    assert len(thumbs) == 30
    assert (thumbs.status == "ok").all()
    assert thumbs.thumb.map(len).eq(4 * 4 * 3).all()

    frames = sample_frames(media, n_frames=4).toPandas()
    n_video = (media.toPandas().kind == "video").sum()
    assert len(frames) == n_video * 4 + (30 - n_video) * 1
    vid = frames[frames.media_id == "m-00002"].sort_values("frame_idx")
    assert vid.frame_idx.tolist() == [0, 1, 2, 3]
    assert vid.ts_ms.is_monotonic_increasing
    # m-00002 is a REAL 3-frame AVI: 4 sampled timestamps map to frames
    # 0,0,1,2 (nearest-frame), so exactly 3 distinct features and all
    # rows carry real-decode provenance
    assert len({tuple(f) for f in vid.feature}) == 3
    assert (vid.status == "ok").all()
    # the opaque-payload video twin still flows through the stub path
    stub_vid = frames[frames.media_id == "m-00005"]
    assert (stub_vid.status == "ok_stub").all()
    assert len({tuple(f) for f in stub_vid.feature}) == 4
    again = sample_frames(media, n_frames=4).toPandas()
    a = frames.sort_values(["media_id", "frame_idx"]).reset_index(drop=True)
    b = again.sort_values(["media_id", "frame_idx"]).reset_index(drop=True)
    assert (a.feature.map(tuple) == b.feature.map(tuple)).all()


def test_bucket_skew_guard_caps_planted_hot_bucket(spark):
    """VERDICT r02 #1: a degenerate hot bucket (hundreds of identical empty
    documents sharing every signature; near-zero vectors sharing a sign
    pattern) must NOT go quadratic in the candidate joins — the cap drops it
    in every leg."""
    import time

    from b2xtranslator_spark.operators.dedup import simhash_candidate_pairs
    from b2xtranslator_spark.operators.similarity import (
        embedding_near_duplicates_lsh,
        lsh_band_buckets,
    )

    # 500 identical boilerplate docs -> one signature in every band,
    # plus 10 normal docs that must still dedup among themselves
    boiler = [(i, "lorem ipsum boilerplate") for i in range(500)]
    normal = [(1000 + i, f"unique document number {i} about topic {i}") for i in range(10)]
    docs = spark.createDataFrame(boiler + normal, "doc_id long, text string")

    t0 = time.time()
    cands = minhash_lsh_candidates(docs, 16, 4, max_bucket_size=50)
    # the per-bucket count adds no Exchange (3: signature groupBy, bucket
    # grouping, pair distinct); test_bucket_cap_filters_below_collect_list
    # checks where the cap sits
    plan = cands._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 3, plan
    pairs = cands.toPandas()
    # without the cap the boilerplate bucket alone emits 500*499/2 = 124,750
    # pairs; with it the candidate set stays tiny and fast
    assert len(pairs) < 1000, f"hot bucket leaked {len(pairs)} pairs"
    assert not any(p.doc_a < 500 and p.doc_b < 500 for p in pairs.itertuples())
    assert time.time() - t0 < 120

    pairs = simhash_candidate_pairs(docs, max_hamming=3, max_bucket_size=50).toPandas()
    assert not any(p.doc_a < 500 and p.doc_b < 500 for p in pairs.itertuples())

    # embeddings: 500 IDENTICAL near-zero vectors (dead embeddings from a
    # failed encoder run) share every band's sign pattern exactly
    import numpy as np

    rng = np.random.RandomState(3)
    dead = (np.ones(8) * 1e-9).astype("float32").tolist()
    hot = [(i, dead) for i in range(500)]
    cold = [(1000 + i, rng.randn(8).astype("float32").tolist()) for i in range(20)]
    emb = spark.createDataFrame(hot + cold, "vec_id long, embedding array<float>")

    lsh_pairs = embedding_near_duplicates_lsh(
        emb, threshold=0.9, max_vecs=None, max_bucket_size=50
    ).toPandas()
    assert not any(p.vec_a < 500 and p.vec_b < 500 for p in lsh_pairs.itertuples())

    # the planted hot bucket is past the cap in every band of the keyed frame
    bb = lsh_band_buckets(emb, bands=20, planes_per_band=2)
    hot_buckets = (
        bb.groupBy("band", "bucket").count().where(F.col("count") > 50).toPandas()
    )
    assert len(hot_buckets) >= 20 and hot_buckets["count"].max() >= 500


@pytest.mark.parametrize("leg", ["minhash", "simhash", "dhash", "embedding"])
def test_bucket_cap_filters_below_collect_list(spark, docs, embeddings, leg):
    """Every banded leg applies the skew cap below the bucket collect_list,
    so a hot bucket is never held whole in one aggregation buffer: the
    first Filter beneath partial_collect_list reads the per-bucket count
    window."""
    from b2xtranslator_spark.operators.dedup import simhash_candidate_pairs
    from b2xtranslator_spark.operators.multimodal import image_near_duplicates
    from b2xtranslator_spark.operators.similarity import (
        embedding_near_duplicates_lsh,
    )

    small = docs.where(F.col("doc_id") < 50)
    df = {
        "minhash": lambda: minhash_lsh_candidates(small, 16, 4, max_bucket_size=50),
        "simhash": lambda: simhash_candidate_pairs(small, max_bucket_size=50),
        "dhash": lambda: image_near_duplicates(
            synthesize_media(spark, n_rows=12), max_bucket_size=50
        ),
        "embedding": lambda: embedding_near_duplicates_lsh(
            embeddings, max_vecs=100, max_bucket_size=50
        ),
    }[leg]()
    plan = df._jdf.queryExecution().executedPlan().toString()
    below = plan.split("partial_collect_list", 1)[1]
    under_filter = below.split("Filter", 1)[1].split("\n", 2)[1]
    assert "count(1) windowspecdefinition(band" in under_filter, plan


def test_connected_components_cluster_planted_dups(docs, spark):
    """Dedup clusters: pairs -> per-doc keeper label. Planted near-dups
    (i, i+100000) must share cluster_id=i; a planted chain a-b, b-c must
    close transitively into one cluster even though (a, c) is no direct
    pair; singletons keep their own id."""
    from b2xtranslator_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 5), (5, 9), (20, 21)], "doc_a long, doc_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in (1, 5, 9, 20, 21, 99)], "doc_id long")
    out = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(pairs, nodes=nodes).collect()
    }
    assert out == {1: 1, 5: 1, 9: 1, 20: 20, 21: 20, 99: 99}

    # end-to-end over LSH candidates: every planted near-dup joins its
    # original's cluster
    cands = minhash_lsh_candidates(docs, 16, 8)
    labels = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(cands, nodes=docs).collect()
    }
    for i in range(5):
        assert labels[i + 100000] == labels[i]


def test_dedup_pipeline_keep_drop_decisions(docs, spark):
    """End-to-end dedup: planted near-dups (i, i+100000) must land in one
    cluster with the original kept and the copy dropped; untouched docs keep
    themselves."""
    from b2xtranslator_spark.operators.dedup import dedup_pipeline

    out = dedup_pipeline(docs, num_hashes=16, bands=8, jaccard_threshold=0.5).toPandas()
    by_doc = out.set_index("doc_id")
    for i in range(5):
        assert by_doc.loc[i + 100000, "cluster_id"] == by_doc.loc[i, "cluster_id"]
        assert not by_doc.loc[i + 100000, "keep"]
        assert bool(by_doc.loc[by_doc.loc[i, "cluster_id"], "keep"])
    # survivors + dropped = corpus; each cluster keeps exactly one doc
    assert out["keep"].sum() == out["cluster_id"].nunique()


def test_dedup_edge_rows_match_reference_outputs(spark):
    """NULL and empty texts, a doc_id on two rows and a pair of two-letter
    texts (the expected rows are the reference outputs): NULL text hashes
    the empty shingle like "" does; a repeated doc_id is one document (no
    self-pair); word sets that are empty (no word longer than two
    characters) verify nothing and never divide by zero under ANSI."""
    from b2xtranslator_spark.operators.dedup import dedup_pipeline, jaccard_verify_pairs

    text = "the quick brown fox jumps over the lazy dog again"
    docs = spark.createDataFrame(
        [(1, None), (2, None), (3, ""), (4, ""), (5, text), (5, text),
         (6, "ab cd"), (7, "ab cd")],
        "doc_id long, text string",
    )
    cands = minhash_lsh_candidates(docs)
    assert sorted(tuple(r) for r in cands.collect()) == [
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (6, 7)
    ]
    assert jaccard_verify_pairs(docs, cands).collect() == []
    out = sorted(tuple(r) for r in dedup_pipeline(docs).collect())
    assert out == [(d, d, True) for d in range(1, 8)]


def test_dedup_pipeline_job_count(docs, spark):
    """The pipeline's cost on small corpora is fixed per Spark job: the
    explode/join implementation ran 30 jobs on this fixture (four per
    connected-components round); the fused verify and one-shuffle rounds
    must stay at half that or fewer."""
    from b2xtranslator_spark.operators.dedup import dedup_pipeline

    sc = spark.sparkContext
    sc.setJobGroup("dedup_pipeline_job_count", "count jobs")
    try:
        dedup_pipeline(docs).toPandas()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("dedup_pipeline_job_count")
    assert 0 < len(jobs) <= 15, len(jobs)


def test_top_tokens_sketch_dominates_exact_counts(docs, spark):
    """Count-min sketch invariants: every estimate >= the token's true
    count (CMS never undercounts), and the sketch's top set recovers the
    exact heavy hitters (Zipf head is locally frequent per doc)."""
    from b2xtranslator_spark.operators.textstats import top_tokens, top_tokens_sketch

    exact = {r["w"]: r["n"] for r in top_tokens(docs, k=10).collect()}
    sketch = {r["w"]: r["est"] for r in top_tokens_sketch(docs, k=30).collect()}
    hits = set(exact) & set(sketch)
    assert len(hits) >= 8, f"sketch missed heavy hitters: {set(exact) - set(sketch)}"
    for w in hits:
        assert sketch[w] >= exact[w], (w, sketch[w], exact[w])


def test_asof_tolerance_subsecond_boundary(spark):
    """Review finding (r3): the tolerance must use fractional seconds — a
    gap of 600.8s with tolerance 600 is OUT even though whole-second
    truncation would call it 600."""
    import datetime

    from b2xtranslator_spark.operators.asof import last_event_asof_tolerance

    t0 = datetime.datetime(2026, 1, 1, 0, 0, 0, 100000)  # .1s
    rows = [
        (1, t0, 1, "click", 0.0),
        (2, t0 + datetime.timedelta(seconds=600, microseconds=800000), 1, "view", 0.0),
        (3, t0 + datetime.timedelta(seconds=599, microseconds=500000), 2, "view", 0.0),
        (4, t0, 2, "click", 0.0),
    ]
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    out = {
        r["event_id"]: r["asof_marker_event_id"]
        for r in last_event_asof_tolerance(events, "click", tolerance_s=600).collect()
    }
    assert out[2] is None  # 600.8s > 600: truncation would wrongly attribute
    assert out[3] == 4     # 599.5s <= 600: attributed


def test_asof_tolerance_ntz_across_dst(spark):
    """Review finding (r3): with TIMESTAMP_NTZ columns the tolerance must be
    pure wall-clock arithmetic (merge_asof semantics). Casting NTZ through
    the session timezone shifts the two sides by DIFFERENT offsets across a
    DST boundary (America/New_York springs forward 2026-03-08 02:00), which
    would shrink a 7200s naive gap to 3600s and wrongly attribute."""
    import datetime

    from b2xtranslator_spark.operators.asof import last_event_asof_tolerance

    rows = [
        (1, datetime.datetime(2026, 3, 8, 1, 30, 0), 1, "click", 0.0),
        (2, datetime.datetime(2026, 3, 8, 3, 30, 0), 1, "view", 0.0),
    ]
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double",
    )
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        out = {
            r["event_id"]: r["asof_marker_event_id"]
            for r in last_event_asof_tolerance(
                events, "click", tolerance_s=3600
            ).collect()
        }
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
    assert out[2] is None, "naive gap is 7200s > 3600s; tz-shifted math hides it"


def test_banded_hamming_covers_remainder_bits(spark):
    """Review finding (r3): when bits % bands != 0 the top remainder bits
    must still be banded — two hashes differing ONLY there are within the
    pigeonhole guarantee (hamming <= bands-1) and must become a pair."""
    from b2xtranslator_spark.operators.banding import banded_hamming_pairs

    # bits=64, bands=6 -> width 10, last band must cover bits 60..63
    a = 0x0123456789ABCDEF
    b = a ^ (0x7 << 60)  # hamming 3 <= bands-1, all above (bands-1)*width=50
    sig = spark.createDataFrame([(1, a), (2, b)], "img_id long, h long")
    pairs = banded_hamming_pairs(
        sig, "img_id", "h", bits=64, bands=6, max_hamming=5,
        max_bucket_size=1000, out_prefix="img",
    ).collect()
    assert [(r["img_a"], r["img_b"], r["hamming"]) for r in pairs] == [(1, 2, 3)]

    with pytest.raises(ValueError, match="bands"):
        banded_hamming_pairs(
            sig, "img_id", "h", bits=64, bands=70, max_hamming=1,
            max_bucket_size=1000, out_prefix="img",
        )


def test_banded_hamming_repeated_id_emits_no_self_pair(spark):
    """A signature id that repeats shares every band bucket with itself; it
    must not come back paired with itself, directly or via simhash."""
    from b2xtranslator_spark.operators.banding import banded_hamming_pairs
    from b2xtranslator_spark.operators.dedup import simhash_candidate_pairs

    h = 0x0123456789ABCDEF
    sig = spark.createDataFrame(
        [(1, h), (1, h ^ 1), (2, h)], "img_id long, h long"
    )
    pairs = banded_hamming_pairs(
        sig, "img_id", "h", bits=64, bands=8, max_hamming=3,
        max_bucket_size=1000, out_prefix="img",
    ).collect()
    assert [(r["img_a"], r["img_b"]) for r in pairs] == [(1, 2)]

    text = "the same words in the same order make the same simhash"
    docs = spark.createDataFrame(
        [(1, text, "en", "s", 1), (1, text, "en", "s", 1), (2, text, "en", "s", 1)],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    pairs = simhash_candidate_pairs(docs, max_hamming=0).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in pairs] == [(1, 2)]


def test_connected_components_endpoints_missing_from_nodes(spark):
    """Review finding (r3): a pair endpoint absent from a narrower `nodes`
    frame must still propagate — dropping it would sever the path and split
    one component into two clusters (silently keeping both near-dups)."""
    from b2xtranslator_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([(1, 5), (5, 9)], "doc_a long, doc_b long")
    nodes = spark.createDataFrame([(1,), (9,)], "doc_id long")
    out = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(pairs, nodes=nodes).collect()
    }
    assert out == {1: 1, 5: 1, 9: 1}


def test_token_length_quantiles_ignore_null_text(spark):
    """Review finding (r3): NULL text must contribute NULL (skipped by
    percentile, matching DuckDB quantile_cont), never size()'s legacy -1."""
    from b2xtranslator_spark.operators.textstats import token_length_quantiles

    base = [(i, "w " * (i + 1), "en", "s", 1) for i in range(4)]
    schema = "doc_id long, text string, lang string, source string, n_chars int"
    without_null = spark.createDataFrame(base, schema)
    with_null = spark.createDataFrame(base + [(99, None, "en", "s", 0)], schema)
    a = token_length_quantiles(without_null).collect()
    b = token_length_quantiles(with_null).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_top_tokens_sketch_run_length_edges(spark):
    """The O(n) run-length candidate pass: repeated tokens count correctly,
    empty/too-short texts emit no candidates, and a NULL-text row is
    harmless."""
    from b2xtranslator_spark.operators.textstats import top_tokens_sketch

    rows = [
        (1, "foo foo foo bar bar zap", "en", "s", 1),
        (2, "", "en", "s", 1),
        (3, "a b c", "en", "s", 1),  # all under min_len
        (4, None, "en", "s", 1),
        (5, "bar bar bar bar", "en", "s", 1),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    )
    est = {r["w"]: r["est"] for r in top_tokens_sketch(docs, k=5).collect()}
    assert est.get("bar", 0) >= 6  # CMS never undercounts: true count 6
    assert est.get("foo", 0) >= 3
    assert "a" not in est and "" not in est


def test_repetition_stats_flags_boilerplate(spark):
    """Gopher repetition signals: planted boilerplate (repeated lines /
    words / bigrams) scores high, clean prose scores low, degenerate rows
    are harmless. The NULL and empty text rows also pin the values of the
    quality_score and language_id signals, which no oracle corpus holds."""
    from b2xtranslator_spark.operators.textstats import (
        language_id,
        quality_score,
        repetition_stats,
    )

    rows = [
        (0, None, "en", "s", 1),
        (1, "buy now\nbuy now\nbuy now\nunique line", "en", "s", 1),
        (2, "the quick brown fox jumps over a lazy dog", "en", "s", 1),
        (3, "spam spam spam spam ham", "en", "s", 1),
        (4, "click here click here click here", "en", "s", 1),
        (5, "", "en", "s", 1),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    )
    out = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    assert out[1]["n_lines"] == 4
    assert out[1]["dup_line_frac"] == 0.5  # 4 lines, 2 distinct
    assert out[2]["dup_line_frac"] == 0.0
    assert out[2]["top_word_frac"] == round(1 / 9, 6)
    assert out[3]["top_word_frac"] == 0.8  # spam x4 of 5
    # "click here" appears 3x of 6 tokens -> 2*3/6
    assert out[4]["top_bigram_frac"] == 1.0
    assert out[5]["n_lines"] == 0 and out[5]["dup_line_frac"] == 0.0
    assert tuple(out[0])[1:] == (None, 0.0, 0.0, 0.0)
    assert tuple(out[5])[1:] == (0, 0.0, 1.0, 0.0)
    # split("", " ") is [""]: one empty word
    quality = {r["doc_id"]: tuple(r)[1:] for r in quality_score(docs).collect()}
    assert quality[0] == (None,) * 6
    assert quality[5] == (0, 1, 0.0, 0.0, 0.0, 0.1)
    lang = {r["doc_id"]: tuple(r)[1:] for r in language_id(docs).collect()}
    assert lang[0] == ("de", None)
    assert lang[5] == ("de", 0)
    # degenerate overlap ('a a a a a': 4 overlapping 'a a' over 5 tokens)
    # must clamp at 1.0, not read 1.6
    extra = spark.createDataFrame(
        [(6, "a a a a a", "en", "s", 1)],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    from b2xtranslator_spark.operators.textstats import repetition_stats as _rs

    assert _rs(extra).collect()[0]["top_bigram_frac"] == 1.0


def test_repetition_stats_is_shuffle_free(spark):
    """The operator must stay a pure map: no Exchange anywhere in the
    physical plan, at any corpus size."""
    from b2xtranslator_spark.operators.textstats import repetition_stats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = repetition_stats(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def _union_find_labels(pairs, nodes=()):
    """Plain-Python reference: every node -> min id of its component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    for n in nodes:
        find(n)
    return {n: find(n) for n in parent}


def test_connected_components_matches_union_find(docs, spark):
    """Labels equal an independent union-find on the real LSH candidate
    graph, on a seeded random sparse graph (cycles, repeated and reversed
    pairs) and on a self-pair, whose endpoint is still labeled."""
    import random

    from b2xtranslator_spark.operators.dedup import connected_components

    def labels(pairs, nodes=None):
        return {
            r["doc_id"]: r["cluster_id"]
            for r in connected_components(pairs, nodes=nodes).collect()
        }

    cands = minhash_lsh_candidates(docs, 16, 8)
    ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    edges = [(r["doc_a"], r["doc_b"]) for r in cands.collect()]
    assert edges
    assert labels(cands, docs) == _union_find_labels(edges, ids)

    rng = random.Random(11)
    edges = [(rng.randrange(300), rng.randrange(300)) for _ in range(240)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    assert labels(pairs) == _union_find_labels(edges)

    pairs = spark.createDataFrame([(9, 5), (5, 1), (7, 7)], "doc_a long, doc_b long")
    assert labels(pairs) == {1: 1, 5: 1, 9: 1, 7: 7}


def _job_count(spark, group, action):
    """Spark jobs that ``action`` runs, counted under a fresh job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "count jobs")
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_connected_components_job_count(docs, spark):
    """On the LSH candidate graph (already materialised) clustering is the
    adjacency build plus a round or two: at most 6 Spark jobs."""
    from b2xtranslator_spark.operators.dedup import connected_components

    cands = minhash_lsh_candidates(docs, 16, 8).localCheckpoint(eager=True)
    n = _job_count(
        spark, "cc_lsh_graph",
        lambda: connected_components(cands, nodes=docs).collect(),
    )
    assert n <= 6, f"connected_components ran {n} Spark jobs"


def test_connected_components_deep_chains(spark):
    """A 100-hop chain converges at the default max_iter in O(log d)
    large/small-star rounds (at most 30 Spark jobs), whether ids run along
    the chain or are shuffled; too small a max_iter still refuses."""
    import random

    from b2xtranslator_spark.operators.dedup import connected_components

    for shuffle in (False, True):
        ids = list(range(101))
        if shuffle:
            random.Random(5).shuffle(ids)
        chain = spark.createDataFrame(
            list(zip(ids, ids[1:])), "doc_a long, doc_b long"
        )
        out = []
        n = _job_count(
            spark, f"cc_chain_{shuffle}",
            lambda: out.extend(connected_components(chain).collect()),
        )
        assert sorted(r["doc_id"] for r in out) == list(range(101))
        assert all(r["cluster_id"] == 0 for r in out)
        assert n <= 30, f"{n} Spark jobs for the 100-hop chain"
    with pytest.raises(ValueError, match="did not converge"):
        connected_components(chain, max_iter=2)


def test_pii_scan_counts_and_scrubs(spark):
    from b2xtranslator_spark.operators.textstats import pii_scan

    rows = [
        (1, "mail a@b.io and c.d+x@e-f.org, call +1 555 0100, host 10.0.0.7", "en", "s", 1),
        (2, "no pii here at all", "en", "s", 1),
        (3, "not an ip 999.999 and not@ nothing", "en", "s", 1),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    )
    out = {r["doc_id"]: r for r in pii_scan(docs).collect()}
    assert (out[1]["n_email"], out[1]["n_ipv4"], out[1]["n_phone"]) == (2, 1, 1)
    # scrub shortens: both emails, the phone and the ip replaced by tags
    assert out[1]["scrubbed_len"] < len(rows[0][1])
    assert (out[2]["n_email"], out[2]["n_ipv4"], out[2]["n_phone"]) == (0, 0, 0)
    assert out[2]["scrubbed_len"] == len(rows[1][1])
    assert out[3]["n_email"] == 0 and out[3]["n_ipv4"] == 0


def test_paragraph_duplicates_groups_across_docs(spark):
    from b2xtranslator_spark.operators.dedup import paragraph_duplicates

    footer = "subscribe to our newsletter for updates"
    rows = [
        (5, "unique first paragraph of doc five\n" + footer, "en", "s", 1),
        (2, footer + "\nunique second paragraph of doc two", "en", "s", 1),
        (9, "short\n" + footer, "en", "s", 1),  # "short" under min_len
        (7, "another wholly unique paragraph here", "en", "s", 1),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    )
    out = paragraph_duplicates(docs, min_len=20).collect()
    assert len(out) == 1  # only the footer recurs; "short" was filtered
    r = out[0]
    assert r["n_occurrences"] == 3 and r["n_docs"] == 3
    assert r["keeper_doc_id"] == 2
    assert r["keeper_line_no"] == 0  # footer is doc 2's first kept line


def test_corpus_filter_reasons_and_order(spark):
    """The composite filter: planted docs trip each check, reason order is
    fixed (duplicate > lang > quality > dup_lines > bigram), clean docs
    keep."""
    from b2xtranslator_spark.operators.textstats import corpus_filter

    clean = (
        "the quick brown fox jumps over the lazy dog and that "
        "is that for the test of time with good words to read"
    )
    rows = [
        (1, clean, "en", "s", 1),
        (2, clean, "en", "s", 1),          # exact dup of 1 -> duplicate
        (3, "der die und das ist nicht mit ein zu den", "de", "s", 1),  # lang
        (4, "buy now\nbuy now\nbuy now\n" + clean, "en", "s", 1),  # dup_lines
        (5, "the the the the the the the the the the", "en", "s", 1),  # bigram*
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    )
    out = {r["doc_id"]: (r["keep"], r["reason"]) for r in corpus_filter(docs).collect()}
    assert out[1] == (True, "ok")
    assert out[2] == (False, "duplicate")
    assert out[3] == (False, "lang")
    assert out[4] == (False, "dup_lines")
    # doc 5 is all stopwords: quality stays high (stop_ratio), but the top
    # bigram covers everything -> first failing check in order is bigram
    assert out[5][0] is False and out[5][1] in ("bigram", "quality")


def test_corpus_filter_null_and_empty_text_keepers(spark):
    """NULL text has a NULL fingerprint: all NULL-text rows share one
    keeper partition (smallest id kept, the rest duplicate), and empty
    text is a partition of its own, as DuckDB's PARTITION BY groups them."""
    from b2xtranslator_spark.operators.textstats import corpus_filter

    clean = (
        "the quick brown fox jumps over the lazy dog and that "
        "is that for the test of time with good words to read"
    )
    rows = [(1, None), (2, None), (3, ""), (4, ""), (5, clean)]
    docs = spark.createDataFrame(
        [(i, t, "en", "s", 1) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    out = {r["doc_id"]: (r["keep"], r["reason"]) for r in corpus_filter(docs).collect()}
    assert out == {
        1: (False, "lang"),
        2: (False, "duplicate"),
        3: (False, "lang"),
        4: (False, "duplicate"),
        5: (True, "ok"),
    }


def test_chunk_documents_overlap_and_coverage(spark):
    """Chunk windows: stride = chunk-overlap, every token covered, overlap
    region repeats, final partial kept, short docs -> one chunk."""
    from b2xtranslator_spark.operators.textstats import chunk_documents

    text = " ".join(f"w{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(1, text, "en", "s", 1), (2, "tiny doc", "en", "s", 1)],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    out = chunk_documents(docs, chunk_tokens=4, overlap=1).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(
            (r["chunk_idx"], r["chunk_text"], r["n_tokens"])
        )
    assert sorted(by_doc[1]) == [
        (0, "w0 w1 w2 w3", 4),
        (1, "w3 w4 w5 w6", 4),
        (2, "w6 w7 w8 w9", 4),
    ]
    assert by_doc[2] == [(0, "tiny doc", 2)]
    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(docs, chunk_tokens=4, overlap=4)


def test_pack_sequences_budget_and_boundaries(spark):
    """Packing: docs lie head-to-tail per source; a doc joins the sequence
    of its first token; sources pack independently."""
    from b2xtranslator_spark.operators.textstats import pack_sequences

    rows = [
        (1, "a " * 5, "s1", 5),   # tokens ~ see below
        (2, "b " * 5, "s1", 5),
        (3, "c " * 5, "s1", 5),
        (4, "d " * 2, "s2", 2),
    ]
    docs = spark.createDataFrame(
        [(i, t.strip(), "en", src, n) for i, t, src, n in rows],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    out = {
        (r["source"], r["seq_id"]): r
        for r in pack_sequences(docs, budget_tokens=8).collect()
    }
    # s1: doc1 starts at 0 (seq 0), doc2 at 5 (seq 0), doc3 at 10 (seq 1)
    assert out[("s1", 0)]["n_docs"] == 2
    assert out[("s1", 0)]["first_doc_id"] == 1
    assert out[("s1", 0)]["last_doc_id"] == 2
    assert out[("s1", 1)]["n_docs"] == 1
    assert out[("s2", 0)]["n_docs"] == 1


def test_contamination_check_flags_planted_leakage(spark):
    """Decontamination: an eval doc copying a training passage must flag
    its source with far more shared fingerprints than unrelated docs."""
    from b2xtranslator_spark.operators.textstats import contamination_check

    passage = (
        "the benchmark asks the model to reverse a linked list in place "
        "while keeping the auxiliary space constant and the running time linear "
    ) * 3
    train = spark.createDataFrame(
        [
            (1, "intro text " + passage + " closing remarks", "en", "s", 1),
            (2, "completely unrelated training document about cooking pasta "
                "slowly with plenty of butter and sage leaves in a pan", "en", "s", 1),
        ],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    eval_docs = spark.createDataFrame(
        [(100, passage, "en", "eval", 1)],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    out = {
        (r["doc_id"], r["eval_doc_id"]): r["shared_fps"]
        for r in contamination_check(train, eval_docs, min_shared_fps=3).collect()
    }
    assert (1, 100) in out and out[(1, 100)] > 10
    assert (2, 100) not in out


def test_ivf_grid_scores_exactly_and_recalls(embeddings):
    """Grid-quantizer IVF: candidates carry EXACT cosines (agree with
    brute force on intersection), probing more cells monotonically widens
    recall, and results are deterministic."""
    from b2xtranslator_spark.operators.similarity import (
        cosine_topk_bruteforce,
        ivf_topk_grid,
    )

    brute = cosine_topk_bruteforce(embeddings, 0, 10).toPandas()
    ann = ivf_topk_grid(embeddings, 0, k=50, n_centroids=16, n_probe=4).toPandas()
    merged = brute.merge(ann, on="vec_id", suffixes=("_b", "_a"))
    assert len(merged) >= 3, "too few of the true top-10 recovered"
    assert (merged.cosine_b - merged.cosine_a).abs().max() < 1e-9
    wide = ivf_topk_grid(embeddings, 0, k=50, n_centroids=16, n_probe=16).toPandas()
    assert set(brute.vec_id) <= set(wide.vec_id)  # all cells probed = exact
    again = ivf_topk_grid(embeddings, 0, k=50, n_centroids=16, n_probe=4).toPandas()
    assert ann.vec_id.tolist() == again.vec_id.tolist()


def test_ivf_grid_refuses_mixed_dimensions(spark):
    """A cosine across two dimensions is undefined: a table whose vectors
    differ in length is refused at build, and an empty table returns an
    empty result."""
    from b2xtranslator_spark.operators.similarity import ivf_topk_grid

    schema = "vec_id long, embedding array<float>"
    mixed = spark.createDataFrame([(0, [1.0, 0.0]), (1, [1.0, 0.0, 1.0])], schema)
    with pytest.raises(ValueError, match="one embedding dimension"):
        ivf_topk_grid(mixed, 0, k=5)
    empty = ivf_topk_grid(spark.createDataFrame([], schema), 0, k=5)
    assert empty.columns == ["vec_id", "cosine"]
    assert empty.collect() == []


# -- conversation operators (round 4) -----------------------------------------


def test_assemble_conversations_orders_and_truncates(spark):
    from b2xtranslator_spark.operators.conversation import assemble_conversations

    rows = [
        ("c1", 2, "user", "third"),
        ("c1", 0, "user", "first"),
        ("c1", 1, "assistant", "second"),
        ("c2", 5, "user", "solo"),
    ]
    turns = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string"
    )
    out = {r["conv_id"]: r for r in assemble_conversations(turns).collect()}
    assert out["c1"]["text"] == "user: first\nassistant: second\nuser: third"
    assert out["c1"]["n_turns"] == 3 and out["c1"]["n_turns_total"] == 3
    assert out["c2"]["text"] == "user: solo"
    # truncation is head-of-conversation and OBSERVABLE via n_turns_total
    trunc = {
        r["conv_id"]: r
        for r in assemble_conversations(turns, max_turns=2).collect()
    }
    assert trunc["c1"]["text"] == "user: first\nassistant: second"
    assert trunc["c1"]["n_turns"] == 2 and trunc["c1"]["n_turns_total"] == 3
    # role_tags=False drops the prefixes
    plain = {
        r["conv_id"]: r
        for r in assemble_conversations(turns, role_tags=False).collect()
    }
    assert plain["c1"]["text"] == "first\nsecond\nthird"


def test_turn_windows_partial_head_frames(spark):
    from b2xtranslator_spark.operators.conversation import turn_windows

    rows = [("c", i, "user", f"t{i}") for i in range(5)]
    turns = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string"
    )
    out = {r["turn_idx"]: r for r in turn_windows(turns, k=3).collect()}
    assert out[0]["context"] == "user: t0" and out[0]["n_context_turns"] == 1
    assert out[1]["context"] == "user: t0\nuser: t1"
    assert out[4]["context"] == "user: t2\nuser: t3\nuser: t4"
    assert out[4]["n_context_turns"] == 3


def test_assemble_conversations_single_shuffle(spark):
    """The 100TB posture: assembly is scan -> ONE Exchange on conv_id ->
    sort-free aggregate (ordering lives inside array_sort)."""
    from b2xtranslator_spark.operators.conversation import assemble_conversations

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    turns = docs.selectExpr(
        "source AS conv_id", "doc_id AS turn_idx",
        "'user' AS role", "substring(text, 1, 50) AS text"
    )
    plan = (
        assemble_conversations(turns)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1
    assert "Sort" not in plan.split("Exchange")[0]  # no post-shuffle global sort


def test_url_domain_stats_normalizes_and_counts(spark):
    from b2xtranslator_spark.operators.textstats import url_domain_stats

    docs = spark.createDataFrame(
        [
            (0, "see https://WWW.Ex.COM/a and https://ex.com/b"),
            (1, "also http://sub.ex.com/c plus https://ex.com/d"),
            (2, "no urls here, just text with a stray https:// fragment"),
        ],
        "doc_id long, text string",
    )
    out = {r["domain"]: r for r in url_domain_stats(docs).collect()}
    assert out["ex.com"]["n_urls"] == 3  # www. stripped + case folded
    assert out["ex.com"]["n_docs"] == 2
    assert out["sub.ex.com"]["n_urls"] == 1
    assert len(out) == 2  # the bare scheme fragment matches nothing


def test_unigram_logprob_oov_floor_and_ranking(spark):
    import math

    from b2xtranslator_spark.operators.textstats import unigram_logprob

    docs = spark.createDataFrame(
        [(0, "common common common common"), (1, "rare1 rare2 rare3 rare4")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in unigram_logprob(docs, vocab_size=1).collect()}
    # total=8 tokens, types=5, denom = 8 + 1*6 = 14; vocab = {common: 4}
    assert out[0]["n_tokens"] == 4
    assert out[0]["mean_logprob"] == round(math.log(5 / 14), 3)
    # every rare token is OOV -> shared add-1 floor
    assert out[1]["mean_logprob"] == round(math.log(1 / 14), 3)
    assert out[0]["mean_logprob"] > out[1]["mean_logprob"]


def test_sessionize_events_batch_gap_boundaries(spark):
    import datetime as dt

    from b2xtranslator_spark.operators.conversation import sessionize_events

    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)
    rows = [
        # user 1: two sessions split by a 31-min gap; second session has
        # a sub-second gap that must NOT split (micros arithmetic)
        (0, t0, 1),
        (1, t0 + dt.timedelta(minutes=5), 1),
        (2, t0 + dt.timedelta(minutes=36), 1),
        (3, t0 + dt.timedelta(minutes=36, microseconds=500_000), 1),
        # user 2: exactly-30-min gap is NOT a boundary (> not >=)
        (4, t0, 2),
        (5, t0 + dt.timedelta(minutes=30), 2),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long"
    )
    out = {
        (r["user_id"], r["session_idx"]): r
        for r in sessionize_events(ev, gap_seconds=1800).collect()
    }
    assert out[(1, 1)]["n_events"] == 2
    assert out[(1, 2)]["n_events"] == 2
    assert out[(1, 2)]["duration_s"] == 0.5
    assert (2, 1) in out and out[(2, 1)]["n_events"] == 2
    assert (2, 2) not in out


def test_duplicate_text_spans_merges_islands(spark):
    from b2xtranslator_spark.operators.dedup import duplicate_text_spans

    boiler = "a b c d e f g h"  # one 8-gram, shared
    docs = spark.createDataFrame(
        [
            (0, f"{boiler} unique tail zero zero2 zero3 zero4 zero5 zero6"),
            (1, f"{boiler} other tail one xx1 xx2 xx3 xx4 xx5"),
            (2, "entirely distinct text with no repeats at all here ok"),
            (3, "short doc"),  # < n tokens: no grams, no crash
        ],
        "doc_id long, text string",
    )
    out = duplicate_text_spans(docs, n=8, min_count=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # the shared leading 8-gram appears as one span [0, 8) in docs 0 and 1
    assert [(r["span_start"], r["span_end"]) for r in by_doc[0]] == [(0, 8)]
    assert [(r["span_start"], r["span_end"]) for r in by_doc[1]] == [(0, 8)]
    assert 2 not in by_doc and 3 not in by_doc
    # overlapping duplicate grams merge into ONE maximal span: extend the
    # shared prefix to 10 tokens -> 3 duplicate gram positions (0, 1, 2)
    docs2 = spark.createDataFrame(
        [
            (0, "a b c d e f g h i j t0a t0b t0c"),
            (1, "a b c d e f g h i j t1a t1b t1c"),
        ],
        "doc_id long, text string",
    )
    out2 = duplicate_text_spans(docs2, n=8, min_count=2).collect()
    spans0 = [
        (r["span_start"], r["span_end"], r["n_dup_grams"])
        for r in out2
        if r["doc_id"] == 0
    ]
    assert spans0 == [(0, 10, 3)]


def test_trim_duplicate_spans_keeps_corpus_first(spark):
    from b2xtranslator_spark.operators.dedup import trim_duplicate_spans

    boiler = "a b c d e f g h"
    docs = spark.createDataFrame(
        [
            (0, f"{boiler} zero tail z1 z2 z3 z4 z5 z6"),
            (1, f"{boiler} one tail o1 o2 o3 o4 o5 o6"),
            (2, "clean document with completely unique token content here"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in trim_duplicate_spans(docs, n=8).collect()}
    # doc 0 holds the corpus-first occurrence: untouched
    assert out[0]["text_trimmed"] == f"{boiler} zero tail z1 z2 z3 z4 z5 z6"
    assert out[0]["n_tokens_cut"] == 0
    # doc 1 loses exactly the 8 boilerplate tokens, tail survives
    assert out[1]["text_trimmed"] == "one tail o1 o2 o3 o4 o5 o6"
    assert out[1]["n_tokens_cut"] == 8
    # untouched doc passes through verbatim
    assert out[2]["n_tokens_cut"] == 0
    # identical documents: first survives whole, second fully cut
    twins = spark.createDataFrame(
        [(0, "p q r s t u v w x y"), (1, "p q r s t u v w x y")],
        "doc_id long, text string",
    )
    t = {r["doc_id"]: r for r in trim_duplicate_spans(twins, n=8).collect()}
    assert t[0]["n_tokens_cut"] == 0
    assert t[1]["text_trimmed"] == "" and t[1]["n_tokens_kept"] == 0


def test_source_mixture_weights_flattens_tail(spark):
    from b2xtranslator_spark.operators.textstats import source_mixture_weights

    docs = spark.createDataFrame(
        [(i, "big" if i < 90 else "small") for i in range(100)],
        "doc_id long, source string",
    )
    out = {r["source"]: r for r in source_mixture_weights(docs, alpha=0.5).collect()}
    assert out["big"]["n_docs"] == 90 and out["small"]["n_docs"] == 10
    # alpha=0.5 flattening: weights proportional to sqrt counts (3:1, not 9:1)
    assert abs(out["big"]["weight"] / out["small"]["weight"] - 3.0) < 0.01
    assert abs(out["big"]["weight"] + out["small"]["weight"] - 1.0) < 1e-6
    # targets are floor(weight * budget)
    assert out["big"]["target_docs"] == int(out["big"]["weight"] * 100_000)


def test_trim_duplicate_spans_worst_case_doc_is_linear(spark):
    """VERDICT r4 straggler caution: a heavily-duplicated long document
    used to cost O(tokens x cut-set) row-local comparisons in the
    per-token array_contains rebuild. The array_except rebuild is linear:
    a ~20k-token fully-duplicated twin (4e8 comparisons under the old
    plan) must finish fast and still cut exactly the duplicate mass."""
    import time

    ntok = 20_000
    body = " ".join(f"w{i}" for i in range(ntok))
    docs = spark.createDataFrame(
        [(0, body), (1, body)], "doc_id long, text string"
    )
    from b2xtranslator_spark.operators.dedup import trim_duplicate_spans

    t0 = time.monotonic()
    out = {r["doc_id"]: r for r in trim_duplicate_spans(docs, n=8).collect()}
    wall = time.monotonic() - t0
    assert out[0]["n_tokens_cut"] == 0 and out[0]["n_tokens_kept"] == ntok
    assert out[1]["n_tokens_kept"] == 0 and out[1]["text_trimmed"] == ""
    # generous under the documented +-2x host-noise band; the quadratic
    # plan takes minutes on this input
    assert wall < 120, f"worst-case doc took {wall:.1f}s — rebuild regressed?"


def test_bpe_train_core_matches_paper_example():
    """Sennrich et al. (2016) worked example: corpus low/lower/newest/
    widest; the first merges must pick the most frequent pairs with
    deterministic lexicographic tie-breaks."""
    from b2xtranslator_spark.operators.bpe import (
        bpe_apply_merges,
        bpe_train_core,
    )

    counts = [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)]
    merges = bpe_train_core(counts, 4)
    # 'es' appears in newest+widest = 9 (the paper's first merge), then
    # 'est</w>' = 9, then 'lo' = 7
    assert merges[0] == ("e", "s")
    assert merges[1] == ("es", "t</w>")
    assert merges[2] == ("l", "o")
    ranks = {p: i for i, p in enumerate(merges)}
    assert bpe_apply_merges("newest", ranks)[-1] == "est</w>"
    assert bpe_apply_merges("lowest", ranks)[-1] == "est</w>"  # generalizes
    assert bpe_apply_merges("", ranks) == []


def test_bpe_train_core_deterministic_and_merge_count_bounded():
    from b2xtranslator_spark.operators.bpe import bpe_train_core

    counts = [("aba", 3), ("abb", 3), ("bab", 3)]
    m1 = bpe_train_core(counts, 50)
    m2 = bpe_train_core(list(reversed(counts)), 50)
    assert m1 == m2  # input order cannot matter
    assert len(m1) <= 50  # loop stops when no pair remains


def test_bpe_spark_train_encode_roundtrip(spark):
    """Distributed train + encode: concatenating a word's subword tokens
    (end-marker stripped) must reproduce the word — the lossless-segmentation
    invariant — and common words must compress to fewer symbols than chars."""
    from b2xtranslator_spark.operators.bpe import bpe_encode, bpe_train

    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog the end") for i in range(40)],
        "doc_id long, text string",
    )
    merges = bpe_train(docs, n_merges=60)
    assert merges and all(len(p) == 2 for p in merges)
    out = bpe_encode(docs, merges).collect()
    for row in out:
        rebuilt = "".join(row["tokens"]).replace("</w>", " ").strip()
        assert rebuilt == "the quick brown fox jumps over the lazy dog the end"
        assert row["n_tokens"] == len(row["tokens"])
    # 'the' occurs 3x/doc: with 60 merges it must be a single symbol
    assert "the</w>" in out[0]["tokens"]


def test_bpe_encode_plan_is_pure_map(spark):
    from b2xtranslator_spark.operators.bpe import bpe_encode, bpe_train

    docs = spark.createDataFrame(
        [(1, "a b a b")], "doc_id long, text string"
    )
    plan = (
        bpe_encode(docs, [("a", "b</w>")])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_quality_model_separates_planted_spam(spark):
    """CCNet-style learned filter: train LR on heuristic labels over a
    mixed corpus; planted keyboard-mash/boilerplate spam must score below
    planted prose, and held-out accuracy must beat chance decisively.
    Scoring must also work in a session that has used an Observation
    (run_with_checkpoints, connected_components): its ObservationManager
    does not serialize, so the fitted model must not drag the session into
    its scoring closures through the LR training summary."""
    import numpy as np
    from pyspark.sql import Observation

    from b2xtranslator_spark.operators.quality_model import (
        heuristic_labels,
        score_quality,
        train_quality_model,
    )

    rng = np.random.default_rng(7)
    prose = (
        "the committee reviewed the annual report and found that results "
        "were consistent with expectations for the period under review"
    )
    rows = []
    for i in range(120):
        if i % 2 == 0:
            words = prose.split()
            rng.shuffle(words)
            rows.append((i, " ".join(words)))
        else:
            junk = "".join(rng.choice(list("#$%@!&*0123456789xz")) for _ in range(140))
            rows.append((i, (junk + " ") * 3))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    obs = Observation()
    docs.observe(obs, F.count(F.lit(1)).alias("n")).collect()
    assert obs.get["n"] == 120
    labeled = heuristic_labels(docs)
    assert labeled.count() > 40  # both extremes represented
    model = train_quality_model(labeled)
    scored = {r["doc_id"]: r["quality_prob"] for r in score_quality(docs, model).collect()}
    prose_scores = [scored[i] for i in range(0, 120, 2)]
    junk_scores = [scored[i] for i in range(1, 120, 2)]
    assert min(prose_scores) > max(junk_scores)


def test_quality_features_are_zero_shuffle_per_branch(spark):
    """The featurize stage is row-local: its plan may join the three maps
    on doc_id but must contain no aggregate."""
    from b2xtranslator_spark.operators.quality_model import quality_features

    docs = spark.createDataFrame([(1, "plain words here")], "doc_id long, text string")
    plan = quality_features(docs)._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" not in plan


def test_corpus_report_card_values(spark):
    from b2xtranslator_spark.operators.textstats import corpus_report

    docs = spark.createDataFrame(
        [
            (0, "the and is in to of hello world common text"),
            (1, "the and is in to of hello world common text"),  # exact dup
            (2, "der die und ist nicht das ein"),
        ],
        "doc_id long, text string",
    )
    row = corpus_report(docs).collect()[0]
    assert row["n_docs"] == 3
    assert row["total_tokens"] == 27
    assert abs(row["distinct_fp_ratio"] - 2 / 3) < 1e-6
    assert abs(row["english_frac"] - 2 / 3) < 1e-6
    assert 0.0 < row["mean_quality"] < 1.0


def _hyperplane_sign(embedding_col, plane: int):
    """Column-API form of ``similarity._hyperplane_sign_sql``: the sign of
    the projection onto deterministic hyperplane ``plane``, one LSH bit."""
    from b2xtranslator_spark.operators.similarity import _C, _HALF, _M1, _M2, _MOD, _MX

    weighted = F.aggregate(
        F.zip_with(
            embedding_col,
            F.sequence(F.lit(0), F.size(embedding_col) - 1),
            lambda x, d: x.cast("double") * (
                (
                    (F.lit(_M1 * plane) + F.lit(_M2) * d
                     + F.lit(_MX * plane) * d + F.lit(_C)) % _MOD
                ) - _HALF
            ).cast("double"),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return F.when(weighted >= 0, 1).otherwise(0)


def test_round6_sql_rewrites_match_column_api_formulations(spark):
    """Optimization round 6 rebuilt three hot expressions as parsed SQL /
    fold form for build- and exec-speed; each must stay bit-identical to
    the original column-API formulation on adversarial data (not just the
    oracle corpus)."""
    import random

    random.seed(42)

    # simhash: one parsed expression vs the 60-agg column build
    from b2xtranslator_spark.operators.dedup import simhash
    from b2xtranslator_spark.operators.textstats import _h60_sql, _norm

    words = ["the", "café", "東京", "naïve", "zz"] + [f"w{i}" for i in range(50)]
    rows = [
        (i, " ".join(random.choices(words, k=random.randint(0, 120))))
        for i in range(200)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bits = 60
    tok = docs.select(
        "doc_id", F.explode(F.split(_norm(), " ")).alias("w")
    ).where(F.length("w") > 0)
    h = F.expr(_h60_sql("w"))
    votes = [
        F.sum(
            F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(bits)
    ]
    voted = tok.groupBy("doc_id").agg(*votes)
    sim = F.lit(0).cast("long")
    for b in range(bits):
        sim = sim + F.when(
            F.col(f"v{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)
        ).otherwise(F.lit(0).cast("long"))
    old = voted.select("doc_id", sim.alias("simhash"))
    new = simhash(docs)
    assert new.exceptAll(old).count() + old.exceptAll(new).count() == 0

    # lsh_bucket: one parsed expression vs the per-plane column build
    import numpy as np

    rng = np.random.default_rng(7)
    vec_rows = [
        (i, [float(x) for x in rng.normal(0, 1, 40)]) for i in range(200)
    ]
    emb = spark.createDataFrame(vec_rows, "vec_id long, embedding array<float>")
    bucket = F.lit(0)
    for p in range(8):
        bucket = bucket * 2 + _hyperplane_sign(F.col("embedding"), p)
    old_b = emb.select("vec_id", bucket.alias("bucket"))
    new_b = lsh_bucket(emb, n_planes=8).select("vec_id", "bucket")
    assert new_b.exceptAll(old_b).count() + old_b.exceptAll(new_b).count() == 0

    # _max_run fold vs the run-length-pairs derivation, incl. edge shapes
    from b2xtranslator_spark.operators.textstats import (
        _max_run,
        _with_rle_pairs,
    )

    cases = [
        (0, []),
        (1, ["a"]),
        (2, ["a"] * 50),
        (3, sorted(["a", "b"] * 30)),
        (4, sorted(["", "", "x"])),
        (5, sorted(random.choices(["a", "b", "c", "d"], k=200))),
        (6, None),
    ]
    arr = spark.createDataFrame(cases, "id long, s array<string>")
    newr = arr.select("id", _max_run(F.col("s")).alias("m"))
    st = _with_rle_pairs(arr, "s", "_p")
    oldr = st.select(
        "id",
        F.coalesce(
            -F.array_min(F.transform(F.col("_p"), lambda p: p["negc"])),
            F.lit(0),
        ).alias("m"),
    )
    assert newr.exceptAll(oldr).count() + oldr.exceptAll(newr).count() == 0
