"""Stage 3 — LSH banding, bucketing, and candidate-pair generation.

Web-scale analogue of the reference's fuzzy candidate search (title +
year±1 Solr query per record, ``clients/dspace_client_wrapper.py:95-116``):
instead of one remote lookup per row, signatures are banded (b=32 x r=4) and
docs sharing any band bucket become candidate pairs — one shuffle keyed by
(band, bucket) groups each bucket into a bounded array whose C(c,2)
combinations are emitted map-side (no self-join; round 4).

Skew story (north_rule: "salted keys to defuse hot-bucket skew"):
  - every bucket's size and min/max doc_id come from one window aggregation
    over the single (band, bucket) exchange; buckets <= cap pair all-vs-all
    (pair generation is quadratic only within a bucket);
  - hot buckets (boilerplate pages land here) switch to bounded-degree *star
    pairing* against their min/max doc_ids — this preserves
    connectivity for the components stage (what dedup needs) without the
    O(c^2) blowup.

Also hosts the SimHash band path for short title-like fields: Manku-style
block-combination tables (radius+3 blocks, keys over every 3-combination of
block values) make the band-key match an exact superset of the Hamming ball
with ~32-bit keys — random collisions stay ~corpus^2/2^32 instead of the
corpus^2/2^16 blowup of single 16-bit bands — and a JVM-side
``bit_count(xor) <= radius`` filter removes the false positives.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..config import DedupConfig, DEFAULT_CONFIG


def band_buckets(signatures: DataFrame, cfg: DedupConfig = DEFAULT_CONFIG) -> DataFrame:
    """signatures -> (doc_id, band, bucket) — one row per (doc, band).

    The signature kernel pre-computes the band keys (``bands`` column,
    operators/signatures.py ``band_keys``), so this stage is a pure
    narrow-column explode.
    """
    return signatures.select("doc_id", F.posexplode("bands").alias("band", "bucket"))


def pair_combinations_expr(col: str = "members") -> Column:
    """C(n,2) ordered pairs from a SORTED DISTINCT array column, emitted
    map-side by higher-order functions (no join, no shuffle beyond the
    aggregation that built the array). ``struct(id1, id2)`` rows with
    id1 < id2 guaranteed by the sort + strict slice offset. Shared by
    :func:`candidate_pairs` and the pipeline's bounded
    ``duplicate_pairs()`` recall frame."""
    return F.expr(
        f"flatten(transform({col}, (x, i) -> "
        f"transform(slice({col}, i + 2, size({col})), "
        "y -> struct(x AS id1, y AS id2))))"
    )


def candidate_pairs(buckets: DataFrame, cfg: DedupConfig = DEFAULT_CONFIG) -> DataFrame:
    """(band, bucket, doc_id) -> distinct (id1, id2) with id1 < id2.

    Lazy: building the frame submits no Spark job. The bucket table is
    exchanged ONCE, by ``repartition("band", "bucket")``; everything below
    runs on that partitioning (both branches read the one exchange through
    exchange reuse):

    1. per-bucket stats — size + min/max doc_id — are window aggregates over
       ``partitionBy("band", "bucket")``, attached to every row of the
       bucket. The partitioning already satisfies the window, so this adds
       a sort within partitions and no exchange, join or broadcast (a
       groupBy + join-back of the same stats measured 2.4 vs 1.4 s and 63
       vs 31 tasks at 2k pages on 4 cores: column pruning gave each
       consumer its own exchange of the bucket table, and AQE broadcast the
       join sides);
    2. buckets with ``bsize <= bucket_cap`` collect into a BOUNDED sorted
       array whose C(c,2) combinations are emitted map-side by higher-order
       functions (:func:`pair_combinations_expr`) — no self-join, so no
       per-partition hash relation over the full bucket table;
    3. hot buckets (boilerplate pages land here) degrade to star pairing
       against their min/max doc_id hubs (``h1``/``h2``): bounded degree,
       connectivity kept for the components stage, no O(c^2) blowup. A
       mega-bucket is one window group, buffered with spill to disk, so its
       cost stays linear in its rows.

    Hot-bucket detection is thereby part of the plan, not a driver probe: no
    hot slice is collected or broadcast, and the driver never holds bucket
    data.
    """
    w = Window.partitionBy("band", "bucket")
    sized = buckets.repartition("band", "bucket").select(
        "band",
        "bucket",
        "doc_id",
        F.count(F.lit(1)).over(w).alias("bsize"),
        F.min("doc_id").over(w).alias("h1"),
        F.max("doc_id").over(w).alias("h2"),
    )

    # collect_set, not collect_list: duplicate (band, bucket, doc_id) input
    # rows would otherwise place a doc next to itself in the sorted array
    # and the strict i < j combination emits an id1 == id2 self-pair — a
    # bogus edge that verifies at jaccard 1.0. The set is still bounded:
    # |set| <= bsize <= bucket_cap.
    members = F.sort_array(F.collect_set("doc_id"))
    small_pairs = (
        sized.filter(F.col("bsize") <= cfg.bucket_cap)
        .groupBy("band", "bucket")
        .agg(members.alias("members"))
        .select(F.explode(pair_combinations_expr()).alias("p"))
        .select("p.id1", "p.id2")
    )

    # hot buckets: star pairing against the two hubs carried on every row
    big_pairs = (
        sized.filter(F.col("bsize") > cfg.bucket_cap)
        .select(
            "doc_id",
            F.explode(F.array_distinct(F.array("h1", "h2"))).alias("hub_id"),
        )
        .filter(F.col("doc_id") != F.col("hub_id"))
        .select(
            F.least("doc_id", "hub_id").alias("id1"),
            F.greatest("doc_id", "hub_id").alias("id2"),
        )
    )

    return small_pairs.union(big_pairs).distinct()


def simhash_blocks(n_blocks: int) -> list[tuple[int, int]]:
    """(offset, width) of ``n_blocks`` contiguous slices covering 64 bits."""
    widths = [64 // n_blocks + (1 if i < 64 % n_blocks else 0) for i in range(n_blocks)]
    offsets = [sum(widths[:i]) for i in range(n_blocks)]
    return list(zip(offsets, widths))


def simhash_band_pairs(
    signatures: DataFrame, cfg: DedupConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Raw SimHash band candidates (id1, id2) — before the Hamming filter.

    Block-combination tables (Manku, Jain, Sarma, "Detecting Near-Duplicates
    for Web Crawling", WWW'07 — public literature): the fingerprint is cut
    into ``b = radius + 3`` blocks, and each doc is keyed under every
    C(b, 3) combination of 3 block values. Any pair within Hamming radius r
    damages at most r blocks, leaving >= 3 intact — so some 3-combo key
    matches exactly (pigeonhole) and the scheme is an exact superset of the
    Hamming ball; :func:`hamming_edges` removes the false positives.

    Why not single 16-bit bands: a 16-bit key space has only 65,536 buckets,
    so *random* collisions grow with corpus^2 / 2^16 — measured 3.3x
    candidate growth for 2x corpus at 400k pages, and certain death at
    10^9+. Three-block keys carry ~32 bits: random collisions ~ corpus^2 /
    2^32 stay negligible until ~10^5x more docs, at the price of C(b,3)
    rows per doc (20 for radius 3) through one narrow explode.
    """
    # same capped pairing as the MinHash path (identical boilerplate titles
    # form mega-buckets; star pairing keeps them connected without O(c^2))
    return candidate_pairs(simhash_band_keys(signatures, cfg), cfg)


def simhash_band_keys(
    signatures: DataFrame, cfg: DedupConfig = DEFAULT_CONFIG
) -> DataFrame:
    """(doc_id, band, bucket) SimHash block-combination key rows."""
    from itertools import combinations

    r = max(1, cfg.simhash_hamming_max)
    b = r + 3
    blocks = [
        F.shiftrightunsigned(F.col("simhash64"), off).bitwiseAND(F.lit((1 << w) - 1))
        for off, w in simhash_blocks(b)
    ]
    # combo index is mixed into the key so tables don't collide;
    # shiftrightunsigned keeps the top block well-defined for negative int64
    keys = F.array(
        *[
            F.xxhash64(F.lit(ci), blocks[i], blocks[j], blocks[k])
            for ci, (i, j, k) in enumerate(combinations(range(b), 3))
        ]
    )
    return signatures.select("doc_id", F.posexplode(keys).alias("band", "bucket"))


def hamming_edges(
    pairs: DataFrame,
    signatures: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
    gated: bool = False,
) -> DataFrame:
    """(id1, id2) band candidates -> (id1, id2, hamming) within the radius.

    ``gated=True`` marks the pair list as measured-small (the caller counted
    it under ``cfg.broadcast_pair_limit``): both sim lookups then stream the
    signature scan through broadcast hash joins with zero shuffles. The
    second hint is safe under the same gate because the joined frame is
    never larger than the pair list it extends. Large pair lists fall back
    to shuffle joins.
    """
    sims = signatures.select("doc_id", "simhash64")
    if gated:
        pairs = pairs.hint("broadcast")
    with_s1 = pairs.join(
        sims.select(F.col("doc_id").alias("id1"), F.col("simhash64").alias("s1")), on="id1"
    )
    if gated:
        with_s1 = with_s1.hint("broadcast")
    return (
        with_s1
        .join(sims.select(F.col("doc_id").alias("id2"), F.col("simhash64").alias("s2")), on="id2")
        .withColumn("hamming", F.bit_count(F.col("s1").bitwiseXOR(F.col("s2"))))
        .filter(F.col("hamming") <= cfg.simhash_hamming_max)
        .select("id1", "id2", "hamming")
    )
