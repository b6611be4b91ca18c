"""Banded Hamming pair-finding over any integer signature column.

The pigeonhole construction shared by text SimHash and image dHash dedup:
slice a ``bits``-wide signature into ``bands`` disjoint bit ranges and
group on (band, slice) — any pair within ``bands - 1`` Hamming distance
shares at least one identical band, so the candidate set has 100% recall
for ``max_hamming <= bands - 1``; an exact popcount(xor) filter verifies.

Plan shape (optimization round 6): ONE pass over the signatures and ONE
shuffle. The old shape was a self equi-join on (band, key), which executed
the whole signature pipeline TWICE (Spark does not de-duplicate the two
sides of a self-join) plus a window-count skew guard with its own shuffle —
measured 12 Exchanges / double compute on the bench. Now each (band, key)
bucket is grouped once (collect_list of (id, hash) rows), the skew cap is a
size filter on the grouped bucket (same drop-oversized-bucket semantics as
operators.skew.cap_bucket_size, no extra shuffle), and ordered candidate
pairs are generated ROW-LOCALLY with a two-level explode — the outer
explode walks left positions so per-row memory stays O(bucket), never
O(bucket^2). The shuffle is O(rows x bands) collect rows, never pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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
    max_hamming <= bands - 1 and no band bucket exceeded the skew cap
    (dropped buckets are observable via skew.bucket_skew_stats)."""
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
            .alias("key"),
        )
        for b in range(bands)
    ]
    keyed = sig.select(
        id_col, hash_col, F.explode(F.array(*band_cols)).alias("bk")
    ).select(id_col, hash_col, "bk.band", "bk.key")
    # ONE shuffle: each (band, key) bucket grouped once; the size filter IS
    # the skew cap (drop oversized buckets, same policy as skew.py); size-1
    # buckets can emit no pair and are dropped with it.
    grouped = (
        keyed.groupBy("band", "key")
        .agg(
            F.collect_list(
                F.struct(
                    F.col(id_col).alias("i"), F.col(hash_col).alias("h")
                )
            ).alias("rs")
        )
        .where(F.size("rs").between(2, max_bucket_size))
    )
    # row-local ordered pair generation, memory-bounded: outer explode of
    # left positions (one row per (bucket, left)), inner explode of the
    # right-side slice — per-row state is O(bucket), never O(bucket^2)
    lefts = grouped.select(
        "rs", F.explode(F.sequence(F.lit(1), F.size("rs") - 1)).alias("p")
    )
    pairs = lefts.select(
        F.element_at("rs", F.col("p")).alias("x"),
        F.explode(
            F.slice("rs", F.col("p") + 1, F.size("rs") - F.col("p"))
        ).alias("y"),
    )
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
