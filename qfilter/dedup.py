"""pHash dedup with aggregation-skew salting (north-rule op).

The reference has no dedup (SURVEY.md §2.4) — this is the north rule's
`salted groupBy on phash`.  Hot buckets are real: visually-identical
images (blank pages, constant-color scans) share one phash, so a plain
``groupBy(phash)`` sends the hot key to one reducer.  AQE splits skewed
JOIN partitions but NOT skewed aggregate groups, so we salt manually:

phase 1: groupBy(phash, salt = pmod(xxhash64(image_id), S)) — partial,
         the hot key fans out over S reducers;
phase 2: groupBy(phash) over the <= S partials — tiny.

Result is identical to the unsalted aggregation (min is associative) —
`tests/test_dedup.py` asserts equality.

Near-dup (hamming <= k on the 64-bit hash) uses banding LSH: 4 x 16-bit
bands; candidates share a band value; verified with bit_count(xor).
Run it AFTER exact dedup (distinct phash values only) or the hot bucket
explodes the candidate pair count quadratically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "phash_winners",
    "dedup_by_phash",
    "neardup_phash_pairs",
    "neardup_cluster_winners",
]


def phash_winners(
    df: DataFrame,
    key: str = "phash",
    id_col: str = "image_id",
    salt_buckets: int = 32,
) -> DataFrame:
    """(key, canonical_id, dup_count) — canonical = min(id) per key.

    Two-phase salted aggregation; exact same result as the direct
    ``groupBy(key)`` (min/sum are associative+commutative).
    """
    salted = df.select(
        F.col(key),
        F.col(id_col),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt_buckets)).alias("_salt"),
    )
    partial = salted.groupBy(key, "_salt").agg(
        F.min(id_col).alias("_pmin"), F.count(F.lit(1)).alias("_pcnt")
    )
    return partial.groupBy(key).agg(
        F.min("_pmin").alias("canonical_id"), F.sum("_pcnt").alias("dup_count")
    )


def dedup_by_phash(df: DataFrame) -> DataFrame:
    """Keep one canonical row per phash (min image_id), plus dup_count.

    The winners side is one row per distinct phash — usually small
    enough to broadcast; Catalyst/AQE picks broadcast automatically when
    it fits, and the join key (phash, image_id) is exact so no residual
    dupes.
    """
    winners = phash_winners(df)
    return (
        df.join(
            winners,
            (df["phash"] == winners["phash"])
            & (df["image_id"] == winners["canonical_id"]),
            "inner",
        )
        .drop(winners["phash"])
        .drop("canonical_id")
    )


def neardup_phash_pairs(
    distinct_hashes: DataFrame,
    key: str = "phash",
    max_hamming: int = 8,
) -> DataFrame:
    """Candidate near-dup pairs (a < b) with hamming(a, b) <= max_hamming.

    Banding LSH: any two 64-bit hashes within hamming distance 3 share
    at least one of the 4 16-bit bands exactly (pigeonhole); for larger
    distances this is a recall-bounded approximation — the standard
    trade (SURVEY.md: MinHash/SimHash band-bucket-join pattern).

    Input MUST be distinct hash values (run after exact dedup).
    """
    banded = distinct_hashes.select(F.col(key).cast("long").alias("h")).distinct()
    bands = None
    for b in range(4):
        part = banded.select(
            "h",
            F.lit(b).alias("band"),
            F.shiftrightunsigned(F.col("h"), b * 16).bitwiseAND(F.lit(0xFFFF)).alias("bv"),
        )
        bands = part if bands is None else bands.unionByName(part)
    a = bands.alias("a")
    c = bands.alias("b")
    pairs = (
        a.join(c, (F.col("a.band") == F.col("b.band")) & (F.col("a.bv") == F.col("b.bv")))
        .filter(F.col("a.h") < F.col("b.h"))
        .select(F.col("a.h").alias("h1"), F.col("b.h").alias("h2"))
        .distinct()
    )
    dist = F.bit_count(F.col("h1").bitwiseXOR(F.col("h2")))
    return pairs.withColumn("hamming", dist).filter(F.col("hamming") <= max_hamming)


def neardup_cluster_winners(df: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup clusters with a canonical winner per cluster — the full
    image-dedup step: banding-LSH pairs over DISTINCT hash values,
    connected components over the hash graph (exact at hamming<=3 by
    the pigeonhole bound; `corpus.connected_components`, which collects
    a pair set within its edge bound once and labels it on the driver),
    then one aggregate over the original rows.

    Returns (cluster, winner_id, n_images, n_hashes) where cluster =
    min phash in the component (isolated hashes are their own cluster)
    and winner_id = min id in the cluster (the keeper).

    Scale shape: components run on DISTINCT hashes (tiny vs the corpus;
    the hot exact-dup bucket collapsed to one vertex first), and the
    only corpus-sized op is the final groupBy(cluster) — whose hot
    cluster skew is the same salted-agg problem `phash_winners` solves;
    counts/min here are associative so AQE partial aggregation absorbs
    it."""
    from .corpus import connected_components

    hashes = df.select(F.col("phash").cast("long").alias("h")).distinct()
    pairs = neardup_phash_pairs(hashes, key="h", max_hamming=max_hamming)
    comp = connected_components(pairs, src="h1", dst="h2")
    labeled = hashes.alias("hh").join(
        comp, F.col("hh.h") == comp.v, "left"
    ).select(F.col("hh.h").alias("h"), F.coalesce("comp", F.col("hh.h")).alias("cluster"))
    return (
        df.select("image_id", F.col("phash").cast("long").alias("h"))
        .join(labeled, "h")
        .groupBy("cluster")
        .agg(
            F.min("image_id").alias("winner_id"),
            F.count(F.lit(1)).alias("n_images"),
            F.count_distinct(F.col("h")).alias("n_hashes"),
        )
    )
