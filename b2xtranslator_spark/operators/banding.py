"""Banded candidate pairs and the one skew policy every LSH leg shares.

Every banding scheme in this repo (minhash bands, SimHash and image dHash
bit slices, sign-LSH embedding bands) keys its rows by (band, bucket) and
pairs the members of each bucket. ``bucket_pairs`` is that step, written
once:

- a bucket of n rows emits n^2/2 pairs, so one degenerate hot bucket
  (thousands of empty documents sharing a signature, near-zero vectors
  sharing a sign pattern) would turn a linear plan quadratic. A count
  window over (band, bucket) drops every bucket above ``max_bucket_size``
  BELOW the collect_list, so a hot bucket is refused before one
  aggregation buffer holds it whole. The window and the grouping share
  one hash partitioning, so the cap adds no Exchange;
- each surviving bucket is grouped once and ordered pairs are generated
  row-locally with a two-level explode: the outer explode walks left
  positions, so per-row memory stays O(bucket), never O(bucket^2). The
  shuffle is O(rows x bands) member rows, never pairs.

Dropped buckets cost recall for their members, and no leg counts them
yet. Members of a hot bucket usually still meet through their other
bands, so the practical cost is small unless an item is degenerate in
every band, which is the content (empty text, zero vectors) a dedup
pipeline wants quarantined anyway.

``banded_hamming_pairs`` is the pigeonhole construction shared by text
SimHash and image dHash dedup: slice a ``bits``-wide signature into
``bands`` disjoint bit ranges — any pair within ``bands - 1`` Hamming
distance shares at least one identical band, so the candidate set has
100% recall for ``max_hamming <= bands - 1``; an exact popcount(xor)
filter verifies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bucket_pairs(keyed: DataFrame, max_bucket_size: int) -> DataFrame:
    """(band, bucket, m) rows -> one (x, y) row per ordered pair of members
    that share a bucket, x before y in the bucket's collect order. A pair
    repeats once per bucket it shares, and a member repeated within a
    bucket pairs with itself; callers filter and dedupe. Buckets of more
    than ``max_bucket_size`` rows are dropped before they are collected."""
    grouped = (
        keyed.selectExpr(
            "band", "bucket", "m", "count(1) OVER (PARTITION BY band, bucket) AS n"
        )
        .where(f"n BETWEEN 2 AND {int(max_bucket_size)}")
        .groupBy("band", "bucket")
        .agg(F.expr("collect_list(m) AS ids"))
    )
    return grouped.selectExpr(
        "ids", "explode(sequence(1, size(ids) - 1)) AS p"
    ).selectExpr(
        "element_at(ids, p) AS x", "explode(slice(ids, p + 1, size(ids) - p)) AS y"
    )


def banded_hamming_pairs(
    sig: DataFrame,
    id_col: str,
    hash_col: str,
    bits: int,
    bands: int,
    max_hamming: int,
    max_bucket_size: int,
    out_prefix: str,
) -> DataFrame:
    """(id, hash) -> (``{out_prefix}_a``, ``{out_prefix}_b``, hamming) pairs
    with hamming <= max_hamming. Recall is complete while
    max_hamming <= bands - 1 and no band bucket exceeded the skew cap.
    The (band, bucket) frame is built here, so dropped buckets are not
    counted today."""
    if not 1 <= bands <= bits:
        raise ValueError(f"bands must be in [1, bits={bits}], got {bands}")
    width = bits // bands
    # the last band absorbs bits % bands so every signature bit is covered —
    # otherwise two hashes differing only in the top remainder bits would
    # never become candidates and the pigeonhole recall guarantee would
    # silently break for bits not divisible by bands.
    last_width = bits - (bands - 1) * width
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(hash_col, b * width)
            .bitwiseAND(
                F.lit((1 << (last_width if b == bands - 1 else width)) - 1)
            )
            .alias("bucket"),
        )
        for b in range(bands)
    ]
    keyed = sig.select(
        F.struct(F.col(id_col).alias("i"), F.col(hash_col).alias("h")).alias("m"),
        F.explode(F.array(*band_cols)).alias("bk"),
    ).select("m", "bk.band", "bk.bucket")
    pairs = bucket_pairs(keyed, max_bucket_size)
    ca, cb = f"{out_prefix}_a", f"{out_prefix}_b"
    return (
        # a repeated id shares every bucket with itself: no self-pair
        pairs.where(F.col("x.i") != F.col("y.i"))
        .select(
            F.least("x.i", "y.i").alias(ca),
            F.greatest("x.i", "y.i").alias(cb),
            # popcount(xor) is symmetric, so the (a, b) orientation never
            # changes the verified distance
            F.bit_count(F.col("x.h").bitwiseXOR(F.col("y.h"))).alias(
                "hamming"
            ),
        )
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates([ca, cb])
        .select(ca, cb, "hamming")
    )
