"""Deduplication operators for a large-scale training-data pipeline.

Four families over the `documents` table, all shuffle-conscious:

- exact: hash-groupBy on a normalized fingerprint (1 shuffle, map-side
  partial agg; oracle-checkable via md5)
- minhash + LSH: shingle -> 64-bit hashes -> per-band min -> band-bucket
  join; candidate pairs only ever co-group within a band bucket, so the
  shuffle is O(docs x bands) rows, never O(docs^2)
- simhash: 64-bit sign-aggregated token hashes; near-dups share the value
  (or a band of it)
- n-gram Jaccard: exact verify on small candidate sets via a distinct-token
  self-join (oracle-checkable)
- embedding cosine near-dup: exact pair similarity over `embeddings`
  (oracle-checkable via DuckDB list_cosine_similarity)
- connected components: candidate pairs -> per-document cluster keeper
  (large-star/small-star rounds; oracle-checkable via a recursive
  transitive-closure CTE)

Every banded leg takes a ``max_bucket_size`` skew guard
(operators/banding.py): one degenerate hot bucket otherwise goes quadratic
at corpus scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .banding import banded_hamming_pairs, bucket_pairs
from .textstats import _content_md5, _h60_sql, _norm, _words


def exact_duplicates(documents: DataFrame) -> DataFrame:
    """Exact dedup groups: normalized-text md5, keeper = min doc_id per
    group (groups of size 1 included so the fingerprint+groupBy semantics are
    verifiable on corpora without duplicates)."""
    return (
        documents.select("doc_id", _content_md5().alias("fp"))
        .groupBy("fp")
        .agg(
            F.count("*").alias("dup_count"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
    )


def _jaccard_sql(a: str, b: str) -> str:
    """Exact Jaccard of two word-set arrays, rounded to 6 places; NULL when
    the sets share no word. A pair with nothing in common never reaches
    the division, so two empty sets cannot divide by zero under ANSI."""
    common = f"size(array_intersect({a}, {b}))"
    return (
        f"CASE WHEN {common} > 0 THEN "
        f"round({common} / (size({a}) + size({b}) - {common}), 6) END"
    )


def _doc_features(
    documents: DataFrame, num_hashes: int, shingle_len: int, tokens: bool
) -> DataFrame:
    """One row per doc_id: MinHash minima ``mh0..mh{num_hashes-1}`` and,
    with ``tokens``, the word set ``t`` (distinct words longer than two
    characters) that the exact Jaccard compares. Rows sharing a doc_id
    merge into one (union of their shingles and words), so an id never
    pairs with itself."""
    # stage the token array: the shingle lambda slices it per position, and
    # an unbound split(regexp_replace(...)) subtree would re-tokenize the
    # document once per shingle (the O(n^2) lambda trap; BENCH notes)
    staged = documents.select("doc_id", F.split(_norm(), " ").alias("_w"))
    cols, aggs = ["doc_id"], []
    if num_hashes:
        # Kirsch-Mitzenmacher double hashing h_i = h1 + i*h2: one md5 per
        # shingle, h1 (60-bit) and h2 (40-bit) cut from it, instead of
        # num_hashes digests per shingle (measured 3.5x on the bench)
        cols.append(
            "transform(transform("
            f"sequence(0, greatest(size(_w) - {shingle_len}, 0)), i -> md5(encode("
            f"concat_ws(' ', slice(_w, i + 1, {shingle_len})), 'UTF-8'))), "
            "d -> named_struct('a', CAST(conv(substring(d, 1, 15), 16, 10) AS BIGINT), "
            "'b', CAST(conv(substring(d, 17, 10), 16, 10) AS BIGINT))) AS _h"
        )
        aggs += [
            f"min(array_min(transform(_h, x -> x.a + {s} * x.b))) AS mh{s}"
            for s in range(num_hashes)
        ]
    if tokens:
        cols.append("array_distinct(filter(_w, w -> length(w) > 2)) AS t")
        aggs.append("array_distinct(flatten(collect_list(t))) AS t")
    return staged.selectExpr(*cols).groupBy("doc_id").agg(*(F.expr(a) for a in aggs))


def _lsh_pairs(
    documents: DataFrame,
    num_hashes: int,
    bands: int,
    shingle_len: int,
    max_bucket_size: int,
    threshold: float | None = None,
) -> DataFrame:
    """Band-bucket pair builder behind minhash_lsh_candidates and
    dedup_pipeline: one (doc_a < doc_b) row per bucket the pair shares, so
    a pair can repeat across bands and callers dedupe. With a
    ``threshold`` each member carries its word set through the bucket
    shuffle and the pair is verified where it is generated: (doc_a, doc_b,
    jaccard) with jaccard >= threshold."""
    verify = threshold is not None
    sig = _doc_features(documents, num_hashes, shingle_len, tokens=verify)
    rows_per_band = num_hashes // bands
    band_structs = []
    for b in range(bands):
        mins = ", ".join(f"mh{b * rows_per_band + r}" for r in range(rows_per_band))
        bucket = _h60_sql(f"concat_ws(',', {mins})", 1000 + b)
        band_structs.append(f"named_struct('band', {b}, 'bucket', {bucket})")
    member = "'id', doc_id, 't', t" if verify else "'id', doc_id"
    buckets = sig.selectExpr(
        f"named_struct({member}) AS m", f"inline(array({', '.join(band_structs)}))"
    )
    pairs = bucket_pairs(buckets, max_bucket_size)
    cols = ["least(x.id, y.id) AS doc_a", "greatest(x.id, y.id) AS doc_b"]
    if not verify:
        return pairs.selectExpr(*cols)
    out = pairs.selectExpr(*cols, f"{_jaccard_sql('x.t', 'y.t')} AS jaccard")
    return out.where(F.col("jaccard") >= F.lit(float(threshold)))


def minhash_lsh_candidates(
    documents: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_len: int = 4,
    max_bucket_size: int = 100_000,
) -> DataFrame:
    """LSH banding: hash each band of the signature to a bucket; docs sharing
    any band bucket become a candidate pair (a < b).

    Plan (optimization round 6): each (band, bucket) is grouped ONCE and
    ordered pairs are generated row-locally with a two-level explode — the
    old self equi-join executed the whole shingle+signature pipeline twice
    (Spark does not de-duplicate self-join sides) plus a window-count skew
    pass with its own shuffle; now the signatures are computed once and
    shuffle once.

    ``max_bucket_size`` is the skew guard: a band bucket of n docs emits
    n^2/2 pairs, so one degenerate signature (empty/boilerplate text shared
    by thousands of docs) would otherwise go quadratic. Oversized buckets
    are dropped by a per-bucket count over the grouping's own partitioning,
    below the collect_list (banding.bucket_pairs). The buckets are keyed
    inside this leg, so today they are dropped without a count a caller
    can read."""
    return _lsh_pairs(
        documents, num_hashes, bands, shingle_len, max_bucket_size
    ).distinct()


SIMHASH_BITS = 60  # 15 hex digits of md5 -> fits a signed 64-bit lane


def simhash(documents: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """SimHash: per-token 60-bit md5-derived hash (textstats._h60_sql),
    per-bit +/-1 vote, sign -> bit.

    One explode + one groupBy; the per-bit votes are computed map-side
    (partial agg) inside Catalyst (no Python). The whole
    votes-plus-reconstruction expression is built as ONE parsed SQL string:
    constructing 60 vote aggregates + 60 reconstruction terms through the
    column API cost ~1 s of py4j round trips per query build (measured,
    optimization round 6) for an identical integer-exact plan."""
    words = F.split(_norm(), " ")
    tok = documents.select("doc_id", F.explode(words).alias("w")).where(
        F.length("w") > 0
    )
    tok = tok.selectExpr("doc_id", f"{_h60_sql('w')} AS h")
    # per-bit vote: sum(+1 if bit set else -1); bit set in the final hash
    # when the vote is positive — same expressions the column-API build
    # produced, parsed server-side in one call
    sim_sql = " + ".join(
        f"(CASE WHEN sum(CASE WHEN (shiftright(h, {b}) & 1) = 1 THEN 1 "
        f"ELSE -1 END) > 0 THEN {1 << b}L ELSE 0L END)"
        for b in range(bits)
    )
    return tok.groupBy("doc_id").agg(
        F.expr(f"CAST(0 AS BIGINT) + {sim_sql}").alias("simhash")
    )


def simhash_candidate_pairs(
    documents: DataFrame,
    max_hamming: int = 3,
    bits: int = SIMHASH_BITS,
    bands: int = 4,
    max_bucket_size: int = 100_000,
) -> DataFrame:
    """SimHash pair-finding: band the hash into ``bands`` disjoint bit slices
    and equi-join on (band, slice). By pigeonhole, any pair within
    ``bands - 1`` Hamming distance shares at least one identical band, so
    with 4 bands the candidate join has 100% recall for hamming <= 3 — then
    an exact popcount(xor) filter verifies. The shuffle is O(docs x bands),
    never all-pairs (the banding mirror of minhash_lsh_candidates).

    ``max_bucket_size`` drops degenerate hot slices before they are
    collected (the n^2 skew guard of banding.bucket_pairs) — the pigeonhole
    recall guarantee then holds only for pairs whose shared band survived
    the cap. The slices are keyed inside banded_hamming_pairs, so today
    the dropped ones are not counted."""
    sig = simhash(documents, bits)
    return banded_hamming_pairs(
        sig, "doc_id", "simhash", bits, bands, max_hamming,
        max_bucket_size, out_prefix="doc",
    )


def ngram_jaccard_pairs(
    documents: DataFrame,
    threshold: float = 0.5,
    max_docs: int | None = None,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram (word) Jaccard similarity for pairs sharing >=1 token.

    Distinct-token self-join: |A ∩ B| from the join, |A|,|B| from per-doc
    counts; only pairs with a common token ever shuffle. Used standalone on
    small corpora and as the verify stage after LSH candidates at scale.

    ``max_df`` drops tokens appearing in more than that many documents
    BEFORE the self-join: a token with document frequency k contributes k^2
    join rows, so one stop-word-like token across the corpus would otherwise
    go quadratic (the join-row guard the self-join plan needs at scale).
    The cap changes the token sets, i.e. the Jaccard definition — callers
    (and the oracle SQL) must apply the same cap."""
    docs = documents
    if max_docs is not None:
        docs = docs.where(F.col("doc_id") < max_docs)
    words = F.split(_norm(), " ")
    tok = docs.select("doc_id", F.explode(words).alias("w")).where(
        F.length("w") > 2
    ).distinct()
    if max_df is not None:
        from pyspark.sql.window import Window

        tok = (
            tok.withColumn("df", F.count("*").over(Window.partitionBy("w")))
            .where(F.col("df") <= max_df)
            .drop("df")
        )
    sizes = tok.groupBy("doc_id").agg(F.count("*").alias("n"))
    inter = (
        tok.alias("a")
        .join(tok.alias("b"), "w")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("common"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .withColumnRenamed("n", "na")
        .join(
            sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"),
            "doc_b",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("common") / (F.col("na") + F.col("nb") - F.col("common")), 6
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def embedding_near_duplicates(
    embeddings: DataFrame, threshold: float = 0.95, max_vecs: int | None = 2000
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (exact, O(n^2) within the cap).

    The exact pass is the verify stage; at corpus scale candidates come from
    LSH bucketing first (see embedding_near_duplicates_lsh in
    operators/similarity.py)."""
    from .similarity import _cosine

    vecs = embeddings
    if max_vecs is not None:
        vecs = vecs.where(F.col("vec_id") < max_vecs)
    a = vecs.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea")
    )
    b = vecs.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb")
    )
    return (
        a.crossJoin(b)
        .where(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cosine", _cosine(F.col("ea"), F.col("eb")))
        .where(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", "cosine")
    )


def _star_adjacency(edges: DataFrame, obs) -> DataFrame:
    """Symmetric adjacency (node, nbrs) of an (a, b) edge list, without
    self-loops, checkpointed. ``obs`` counts the nodes that are neither a
    star root (every neighbour larger) nor a star leaf (one smaller
    neighbour): 0 means the graph is a star forest."""
    return (
        edges.selectExpr(
            "inline(array(named_struct('node', a, 'nbr', b), "
            "named_struct('node', b, 'nbr', a)))"
        )
        .groupBy("node")
        .agg(F.expr("array_remove(collect_set(nbr), node) AS nbrs"))
        .observe(obs, F.expr(
            "count_if(size(nbrs) > 1 AND array_min(nbrs) < node) AS open"
        ))
        .localCheckpoint(eager=True)
    )


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame | None = None,
    max_iter: int = 20,
) -> DataFrame:
    """Dedup-cluster assignment: connected components over candidate pairs
    (doc_a, doc_b), labeling every node with the MIN doc_id reachable from
    it — the canonical "keeper" of its duplicate cluster. The stage that
    turns pairwise LSH output into per-document keep/drop decisions.

    Plan: alternating large-star/small-star rounds (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) over an
    adjacency list (node, nbrs), so the round count is O(log d) in the
    cluster diameter d, not O(d). The edge list is materialised once as
    that adjacency, and every half-round is one explode of each node's
    list plus one groupBy on the node that rebuilds it:

    - large-star: each node links its LARGER neighbours to the minimum of
      its closed neighbourhood — chains contract from every node at once;
    - small-star: each node with smaller neighbours links them and itself
      to the smallest of them — partial trees flatten into stars.

    Both keep connectivity, and their fixpoint is a star forest: every
    component is its minimum with all other members hanging off it. Each
    rebuilt adjacency is checkpoint-truncated via localCheckpoint, and the
    number of nodes that are neither root nor leaf rides that checkpoint
    as an Observation, so a half-round costs no join and no count job. The
    loop stops at the first adjacency (the initial one included) where
    that number is 0; ``max_iter`` bounds the large+small round pairs.
    Trade: at the fixpoint the minimum's row holds every member id of its
    component in one array. A clique member's row already does in the
    first adjacency; for a long chain the array is new.

    Only edge endpoints take part in the rounds. ``nodes`` (a frame with
    doc_id) widens the output to singleton docs (cluster_id = own doc_id)
    in one final groupBy; omitted, only docs appearing in pairs are
    labeled. Pair endpoints are always labeled, even if absent from a
    narrower ``nodes`` frame (output covers nodes UNION endpoints; a
    severed path would silently split clusters). Oracle: a recursive
    transitive-closure CTE computes the same min-reachable label in
    portable SQL."""
    from pyspark.sql import Observation

    obs = Observation()
    # materialize the edge list ONCE: its lineage is the whole upstream
    # candidate/verify dataflow, and every round would otherwise re-execute
    # it from the scan up
    adj = _star_adjacency(pairs.selectExpr("doc_a AS a", "doc_b AS b"), obs)
    # an endpoint of self-pairs only has no neighbour, so the rounds drop it
    loops = adj.where("size(nbrs) = 0")
    rounds = 0
    while obs.get["open"]:
        if rounds == 2 * max_iter:
            # silently returning partial labels would hand out cluster_ids
            # whose "keeper" is itself not a keeper and diverge from the
            # transitive-closure oracle
            raise ValueError(
                f"connected_components did not converge in {max_iter} "
                "rounds; raise max_iter"
            )
        if rounds % 2 == 0:  # large-star
            edges = adj.selectExpr(
                "explode(filter(nbrs, v -> v > node)) AS a",
                "least(node, array_min(nbrs)) AS b",
            )
        else:  # small-star
            edges = (
                adj.selectExpr("node", "filter(nbrs, v -> v < node) AS s")
                .where("size(s) > 0")
                .selectExpr(
                    "explode(array_union(s, array(node))) AS a",
                    "array_min(s) AS b",
                )
            )
        obs = Observation()
        adj = _star_adjacency(edges, obs)
        rounds += 1
    labels = (
        adj.where("size(nbrs) > 0")
        .unionByName(loops)
        .selectExpr("node", "least(node, array_min(nbrs)) AS lbl")
    )
    if nodes is not None:
        # a node's own id bounds its component label from above, so one
        # min per node labels endpoints and singletons alike
        labels = (
            labels.unionByName(nodes.selectExpr("doc_id AS node", "doc_id AS lbl"))
            .groupBy("node")
            .agg(F.min("lbl").alias("lbl"))
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("lbl").alias("cluster_id")
    )


def paragraph_duplicates(documents: DataFrame, min_len: int = 20) -> DataFrame:
    """Cross-corpus paragraph-level dedup (the CCNet/CommonCrawl pipeline
    stage): hash every trimmed non-empty line of at least ``min_len`` chars,
    group by hash across ALL documents, report hashes appearing in more
    than one place with their occurrence count, spread, and canonical
    keeper (min doc, then min line index).

    Plan: one explode (rows ~ total paragraphs) -> one hash-agg with
    map-side partial aggregation (the boilerplate skew — the same footer on
    a million pages — pre-aggregates inside every task before a single
    combined row per partition shuffles, exactly the top_tokens argument).
    md5 keys keep the operator oracle-portable."""
    # posexplode BEFORE the length filter so line_no indexes the DOCUMENT's
    # lines (what a consumer edits/keeps), not positions in a filtered list
    # that shift with every short/blank line above
    all_lines = F.transform(F.split(F.col("text"), "\n"), lambda x: F.trim(x))
    para = documents.select(
        "doc_id", F.posexplode(all_lines).alias("line_no", "para")
    ).where(F.length("para") >= min_len)
    # the composite arg-min key below allots 10^6 line slots per doc_id; a
    # document beyond that would silently alias into the next doc_id and
    # corrupt both keeper fields, so the bound is ENFORCED: the job fails
    # loudly instead (assert_true returns NULL when the predicate holds,
    # so the filter passes every valid row and cannot be pruned away)
    para = para.where(
        F.assert_true(
            F.col("line_no") < 1000000,
            "paragraph_duplicates: document with >= 1e6 lines breaks the "
            "doc_id*1e6+line_no arg-min key; split the document or raise "
            "the slot width",
        ).isNull()
    )
    return (
        para.groupBy(F.md5(F.encode(F.col("para"), "UTF-8")).alias("para_fp"))
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("keeper_doc_id"),
            # arg-min over (doc_id, line_no) as one scalar key — the form
            # both engines aggregate identically. ASSUMPTION (documented,
            # not enforced): < 10^6 lines per document; a longer document
            # would alias into the next doc_id. Transcript-corpus documents
            # are orders of magnitude below this.
            (
                F.min(F.col("doc_id") * 1000000 + F.col("line_no"))
                % 1000000
            ).alias("keeper_line_no"),
        )
        .where(F.col("n_occurrences") > 1)
    )


def jaccard_verify_pairs(
    documents: DataFrame, pairs: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """Exact word-set Jaccard for GIVEN candidate pairs only (the verify
    stage after LSH pair-finding). Unlike ngram_jaccard_pairs (which
    self-joins the whole token table), this joins the candidate list to one
    word-set array per document twice and intersects the two arrays in
    place, so work is proportional to the candidates' token mass — the
    shape a candidates->verify pipeline needs at corpus scale.
    dedup_pipeline does the same verify inside the LSH bucket pass."""
    sets = _doc_features(documents, 0, 0, tokens=True)
    return (
        pairs.join(sets.selectExpr("doc_id AS doc_a", "t AS ta"), "doc_a")
        .join(sets.selectExpr("doc_id AS doc_b", "t AS tb"), "doc_b")
        .selectExpr("doc_a", "doc_b", f"{_jaccard_sql('ta', 'tb')} AS jaccard")
        .where(F.col("jaccard") >= F.lit(float(threshold)))
    )


def dedup_pipeline(
    documents: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    jaccard_threshold: float = 0.5,
    max_bucket_size: int = 100_000,
) -> DataFrame:
    """The full corpus-dedup decision in one dataflow: MinHash-LSH
    candidates -> exact Jaccard verify -> connected components -> per-doc
    keep/drop. Every document comes back labeled with its cluster keeper
    and whether it survives dedup (keep = it IS the keeper).

    This is the end-to-end composition a training-data pipeline runs:
    candidate generation is banded (never all-pairs, skew-guarded), the
    verify runs where each pair is generated in the bucket pass (each
    member carries its word set, so there is no join back to the corpus),
    clustering is large-star/small-star rounds, and the decision is a
    deterministic function of the cluster (min doc_id wins). Fully
    oracle-checkable in portable SQL (recursive CTE over the same
    candidate+verify definition)."""
    # a pair verified in several bands repeats here; the adjacency
    # collect_set in connected_components absorbs that without a distinct
    verified = _lsh_pairs(
        documents, num_hashes, bands, 4, max_bucket_size, jaccard_threshold
    )
    clusters = connected_components(
        verified.select("doc_a", "doc_b"), nodes=documents
    )
    return clusters.select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("keep"),
    )


def _gram_hashes(staged: DataFrame, n: int) -> DataFrame:
    """(doc_id, pos, h): one row per token ``n``-gram of the staged ``ws``
    arrays, h its 60-bit hash. Documents shorter than n tokens have no
    grams; the filter also guards Spark's sequence(), which DESCENDS when
    stop < start (sequence(0,-1) is [0,-1], not empty) and would feed
    slice() an invalid 0 start."""
    gram = _h60_sql(f"array_join(slice(ws, i + 1, {n}), ' ')")
    return staged.where(F.size("ws") >= n).selectExpr(
        "doc_id",
        f"posexplode(transform(sequence(0, size(ws) - {n}), i -> {gram})) "
        "AS (pos, h)",
    )


def duplicate_text_spans(
    documents: DataFrame, n: int = 8, min_count: int = 2
) -> DataFrame:
    """Exact-substring duplicate SPANS — the token-level dedup signal of
    "Deduplicating Training Data Makes Language Models Better" (Lee et
    al., 2022), bounded to fixed-``n`` token grams: find every position
    whose n-gram recurs >= ``min_count`` times across the corpus, then
    merge overlapping/adjacent positions into maximal per-document spans
    (the byte ranges a trimming pass would cut).

    Plan: stage the token array (bound column — the unbound-lambda trap),
    one explode of (pos, gram-hash60) rows, ONE hash-agg for gram counts
    (map-side partial agg absorbs boilerplate skew), a 1:N equi-join back
    (build side is the filtered hash set — a hot gram fans out to probe
    rows, never to pairs), then per-doc islands-and-gaps (window on
    doc_id: new island when the position gap exceeds n) -> one groupBy for
    span extents. No all-pairs anywhere; shuffle keys are gram hashes and
    doc_ids. md5-60bit grams keep the operator oracle-portable."""
    staged = _gram_hashes(documents.select("doc_id", _words().alias("ws")), n)
    dup_hashes = (
        staged.groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .where(F.col("n_occ") >= min_count)
        .select("h")
    )
    dup_pos = staged.join(dup_hashes, "h").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    islands = dup_pos.select(
        "doc_id",
        "pos",
        F.when(
            F.coalesce(F.col("pos") - F.lag("pos").over(w), F.lit(n + 1)) > n,
            1,
        )
        .otherwise(0)
        .alias("new_island"),
    ).select(
        "doc_id",
        "pos",
        F.sum("new_island")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("island"),
    )
    return islands.groupBy("doc_id", "island").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + F.lit(n)).alias("span_end"),
        F.count(F.lit(1)).alias("n_dup_grams"),
    )


def trim_duplicate_spans(
    documents: DataFrame, n: int = 8, min_count: int = 2
) -> DataFrame:
    """APPLY the exact-substring dedup (the second half of the Lee et al.
    2022 recipe): for every duplicated token n-gram keep the corpus-first
    occurrence (min (doc_id, pos) composite key) and cut every other
    occurrence's token range; returns each document's trimmed text with
    cut/kept accounting.

    Plan: same gram-hash explode + ONE hash-agg as duplicate_text_spans
    (the agg also computes the keeper arg-min as a scalar composite —
    oracle-portable), a 1:N probe join, then cut indices collect_set per
    doc and a row-local array rebuild via array_except over the position
    sequence (positions are distinct ints, so set semantics are exact;
    O(tokens + cuts) row-local vs the O(tokens x cuts) per-token
    array_contains scan it replaced — a fully-duplicated 2^20-token doc
    is no longer a straggler). Composite-key bound: pos < 2^20 per document
    (enforced loudly, same policy as paragraph_duplicates); doc_id must
    fit 2^43 — document ids beyond that need a wider key."""
    pos_limit = 1 << 20
    staged = documents.select("doc_id", _words().alias("ws"))
    grams = _gram_hashes(staged, n).where(
        F.assert_true(
            F.col("pos") < pos_limit,
            "trim_duplicate_spans: document with >= 2^20 tokens breaks the "
            "keeper composite key; split the document or widen the key",
        ).isNull()
    )
    composite = F.col("doc_id") * pos_limit + F.col("pos")
    dup = (
        grams.groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.min(composite).alias("keeper"),
        )
        .where(F.col("n_occ") >= min_count)
        .select("h", "keeper")
    )
    cut = (
        grams.join(dup, "h")
        .where(composite != F.col("keeper"))
        .select("doc_id", F.explode(F.sequence(F.col("pos"), F.col("pos") + n - 1)).alias("i"))
        .groupBy("doc_id")
        .agg(F.collect_set("i").alias("cut"))
    )
    joined = staged.join(cut, "doc_id", "left").select(
        "doc_id",
        "ws",
        F.coalesce(F.col("cut"), F.array().cast("array<int>")).alias("cut"),
    )
    # array_except keeps array1's order and hashes array2 — linear in
    # tokens + cuts, and exact here because positions are distinct
    kept = F.array_except(
        F.sequence(F.lit(0), F.size("ws") - 1), F.col("cut")
    )
    return joined.select(
        "doc_id",
        F.array_join(
            F.transform(kept, lambda i: F.element_at(F.col("ws"), i + 1)), " "
        ).alias("text_trimmed"),
        F.size("cut").alias("n_tokens_cut"),
        (F.size("ws") - F.size("cut")).alias("n_tokens_kept"),
    )
