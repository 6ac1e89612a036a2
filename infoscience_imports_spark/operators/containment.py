"""Exact-substring containment pass (stage 4b).

Reference parity: the ``HasVersion`` containment removal
(``data_pipeline/harvester.py:683-689``) drops records whose version list
intersects surviving IDs — i.e., records *contained by* another record's
lineage. The web-scale analogue links page B to page A when B's normalized
text is an exact substring of A's (quotes, scrapes, partial mirrors), which
MinHash structurally misses when |A| >> |B| (Jaccard ~ |B|/|A|).

Distributed plan (no O(n^2), no stored shingle sets, no driver-side data):
  1. candidate generation — bottom-k sketch: the k smallest shingle hashes of
     each doc (stored in the signature table, 8 longs/doc) are a uniform
     sample of its shingle set; if S_B ⊆ S_A then all of B's bottom-k hashes
     appear somewhere in S_A. The A-side postings are *recomputed* from
     ``text_norm`` in an Arrow kernel (CPU scales with cores; re-reading a
     stored posting table does not) and prefiltered map-side against a
     **Bloom bitmap** of the bottom-k hash set before they ever hit a
     shuffle. The bitmap is built by a JVM-only ``bit_or`` aggregation into
     64-bit words, so the driver only ever holds one fixed-size buffer —
     never the hash set itself (round-1 verdict #2: a distinct().collect()
     here is tens of GB at 10^9+ docs). Bloom false positives are removed by
     the exact hash equi-join that follows;
  2. verify — candidates are tagged ``contain`` and verified by
     ``verify.verify_tagged_pairs``: one Arrow kernel per candidate pair
     over the two normalized texts, shingle-containment score
     |S_B ∩ S_A| / |S_B| plus the exact substring check. This is the
     "suffix-array pass" semantics — exact substring — at candidate-pair
     cardinality, where a direct check beats maintaining a distributed
     suffix array.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..caching import persist_tracked
from ..config import DedupConfig, DEFAULT_CONFIG
from ..functions.shingles import shingle_hashes, token_hashes

_POSTINGS_SCHEMA = StructType(
    [
        StructField("big_id", LongType(), False),
        StructField("big_n", LongType(), False),
        StructField("sh", LongType(), False),
    ]
)


def _bloom_positions(u: np.ndarray, m_bits: int) -> tuple[np.ndarray, np.ndarray]:
    """Two bit positions per uint64 value; shared by builder and prober.

    Shift/xor only (no multiply), so the Spark SQL builder in
    :func:`build_bloom` computes the same positions under ANSI arithmetic,
    where a wrapping 64-bit multiply raises ``ARITHMETIC_OVERFLOW``. ``p1`` is
    the low bits; ``p2`` folds bits 29+ over a shifted copy of the low bits,
    so it stays spread even for bottom-k values whose top bits are zero.
    """
    mask = np.uint64(m_bits - 1)
    p1 = u & mask
    p2 = ((u >> np.uint64(29)) ^ (u << np.uint64(7))) & mask
    return p1, p2


def _bloom_test(bitmap: np.ndarray, u: np.ndarray, m_bits: int) -> np.ndarray:
    p1, p2 = _bloom_positions(u.astype(np.uint64), m_bits)
    b1 = (bitmap[(p1 >> np.uint64(3)).astype(np.int64)] >> (p1 & np.uint64(7)).astype(np.uint8)) & 1
    b2 = (bitmap[(p2 >> np.uint64(3)).astype(np.int64)] >> (p2 & np.uint64(7)).astype(np.uint8)) & 1
    return (b1 & b2).astype(bool)


def build_bloom(hashes: DataFrame, col: str, n_items: int, bits_per_item: int = 16) -> tuple[bytes, int]:
    """Bloom bitmap over a long column, built by Spark SQL on the JVM.

    Both bit positions of every value (:func:`_bloom_positions`, in column
    form) explode into one column, and ``bit_or`` folds them into 64-bit
    words grouped by ``p >> 6`` — a partial aggregate map-side, so the
    exchange carries at most one word per partition and word. The driver
    collects at most ``m_bits / 64`` (word index, word) rows and scatters
    them into the byte bitmap (little-endian words are exactly the prober's
    ``p >> 3`` / ``p & 7`` byte layout). Driver memory is bounded by the
    bitmap size (<= 16 MB) plus the collected rows (12 bytes per 8-byte
    word), regardless of corpus cardinality.
    """
    m_bits = 1 << max(13, int(max(1, n_items * bits_per_item) - 1).bit_length())
    m_bits = min(m_bits, 1 << 27)  # cap at 16 MB
    mask = F.lit(m_bits - 1)
    u = F.col(col)
    p1 = u.bitwiseAND(mask)
    p2 = F.shiftrightunsigned(u, 29).bitwiseXOR(F.shiftleft(u, 7)).bitwiseAND(mask)
    words = (
        hashes.select(F.explode(F.array(p1, p2)).alias("p"))
        .groupBy(F.shiftright("p", 6).cast("int").alias("w"))
        .agg(F.expr("bit_or(shiftleft(1L, int(p & 63)))").alias("bits"))
        .toPandas()
    )
    bitmap = np.zeros(m_bits // 64, dtype="<u8")
    bitmap[words["w"].to_numpy(dtype=np.int64)] = words["bits"].to_numpy(dtype=np.int64).view(np.uint64)
    return bitmap.view(np.uint8).tobytes(), m_bits


def _shingle_postings(texts: DataFrame, cfg: DedupConfig, bloom_bc, m_bits: int) -> DataFrame:
    """(doc_id, text_norm) -> exploded (big_id, big_n, sh) posting rows.

    ``bloom_bc`` is a SparkContext broadcast of the Bloom bitmap bytes over
    the bottom-k hash set; postings are prefiltered inside the kernel, so
    (almost) only relevant shingles are emitted, let alone shuffled. Bloom
    false positives are dropped by the exact join in
    :func:`containment_candidates`.
    """
    k = cfg.shingle_k

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bitmap = np.frombuffer(bloom_bc.value, dtype=np.uint8)
        for pdf in batches:
            memo: dict[str, int] = {}
            ids, ns, hs = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text_norm"]):
                sh = shingle_hashes(
                    token_hashes(text.split() if isinstance(text, str) else [], memo), k
                )
                if sh.size == 0:
                    continue
                keep = sh[_bloom_test(bitmap, sh, m_bits)]
                for h in keep.tolist():
                    ids.append(int(doc_id))
                    ns.append(int(sh.size))
                    hs.append(int(np.int64(np.uint64(h))))
            yield pd.DataFrame(
                {
                    "big_id": np.array(ids, dtype=np.int64),
                    "big_n": np.array(ns, dtype=np.int64),
                    "sh": np.array(hs, dtype=np.int64),
                }
            )

    return texts.select("doc_id", "text_norm").mapInPandas(kernel, schema=_POSTINGS_SCHEMA)


def _sketch_rows(signatures: DataFrame) -> DataFrame:
    """(doc_id, n_shingles, bottomk) -> one (small_id, small_n, sh) row per
    bottom-k hash: the small side of the containment probe."""
    return signatures.select(
        F.col("doc_id").alias("small_id"),
        F.col("n_shingles").alias("small_n"),
        F.explode("bottomk").alias("sh"),
    )


def containment_candidates(
    signatures: DataFrame,
    texts: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
    n_docs_hint: int | None = None,
) -> DataFrame:
    """(small_id, big_id) candidate pairs where small may be ⊂ big.

    ``signatures`` must carry (doc_id, bottomk, n_shingles); ``texts`` must
    carry (doc_id, text_norm) for the posting recompute. The bottom-k
    postings stay distributed end-to-end: Bloom prefilter map-side, exact
    equi-join on the hash for membership (reference semantics:
    ``harvester.py:683-689`` intersects version-id lists; here the "list" is
    the bottom-k sketch and the intersection is the join).

    ``n_docs_hint`` (e.g. the committed row count of the signatures snapshot,
    free from the checkpoint manifest) sizes the Bloom bitmap without paying
    a separate count job; only the upper bound matters for the fp rate.
    """
    bk = persist_tracked(_sketch_rows(signatures))
    if n_docs_hint is not None:
        n_bk = n_docs_hint * cfg.bottomk
    else:
        n_bk = bk.count()
    if n_bk == 0:
        return bk.select(F.col("small_id"), F.col("small_id").alias("big_id")).limit(0)
    return _shared_pairs(_containment_matches(bk, texts, cfg, n_bk), cfg)


def _containment_matches(
    bk: DataFrame, texts: DataFrame, cfg: DedupConfig, n_bk: int
) -> DataFrame:
    """One direction of the bottom-k probe: (small_id, small_n, sh) sketch
    rows joined against Bloom-prefiltered postings recomputed from
    ``texts`` — the shared shape of the full and scoped candidate passes.
    Returns raw (small_id, big_id, big_n, small_n, sh) match rows; triples
    are distinct per direction (both sketch and postings emit distinct
    hashes per doc)."""
    bitmap, m_bits = build_bloom(bk, "sh", max(1, n_bk), cfg.bloom_bits_per_item)
    bloom_bc = texts.sparkSession.sparkContext.broadcast(bitmap)
    postings = _shingle_postings(texts, cfg, bloom_bc, m_bits)
    return bk.join(postings, on="sh")


def _shared_pairs(matches: DataFrame, cfg: DedupConfig, distinct: bool = False) -> DataFrame:
    """Match rows -> (small_id, big_id) pairs sharing at least
    ``min(bottomk_min_match, bottomk)`` sketch hashes, small strictly
    smaller. ``distinct`` drops repeated (small_id, big_id, sh) triples
    before the count (matches unioned from two probe directions)."""
    m = (
        matches.filter(F.col("small_id") != F.col("big_id"))
        # strict containment direction: small into strictly larger set
        .filter(F.col("big_n") > F.col("small_n"))
    )
    if distinct:
        m = m.select("small_id", "big_id", "sh").distinct()
    return (
        m.groupBy("small_id", "big_id")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= F.least(F.lit(cfg.bottomk_min_match), F.lit(cfg.bottomk)))
        .select("small_id", "big_id")
    )


def containment_candidates_scoped(
    signatures: DataFrame,
    texts: DataFrame,
    probe_docs: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """(small_id, big_id) containment candidates where at least ONE side is
    in ``probe_docs`` — the incremental deep-compaction path.

    Same Bloom + Arrow-kernel posting machinery as
    :func:`containment_candidates`, run once per direction:

    * new doc as SMALL side — the new docs' bottom-k sketches Bloom-filter
      the postings of ALL texts (the kernel re-shingles the corpus but the
      tiny new-docs Bloom keeps emitted/shuffled postings near zero);
    * new doc as BIG side — the FULL bottom-k sketch table (8 narrow
      longs/doc, a cheap columnar scan) Bloom-filters postings recomputed
      from the NEW texts only.

    Scale honesty: the small-side direction still pays an O(state) CPU
    re-shingle per pass — the floor for containment without a persistent
    per-hash posting index (hash-partitioned postings don't help: any real
    batch's probe hashes touch every partition; on Iceberg, bloom-filter
    file skipping on a stored posting table is the upgrade). What the scope
    DOES cut to O(new): the shuffled posting volume, the candidate-pair
    set, and everything downstream (verify text joins, the Rabin-Karp
    kernel). Old-old pairs are excluded by the inductive watermark contract
    (see ``IncrementalNearDedup.compact``).
    """
    probe = probe_docs.select("doc_id")
    texts = texts.select("doc_id", "text_norm")
    texts_new = texts.join(probe, on="doc_id", how="left_semi")
    bk_new = persist_tracked(
        _sketch_rows(signatures.join(probe, on="doc_id", how="left_semi"))
    )
    bk_all = persist_tracked(_sketch_rows(signatures))
    b = _containment_matches(bk_new, texts, cfg, bk_new.count())
    a = _containment_matches(bk_all, texts_new, cfg, bk_all.count())

    # distinct BEFORE the shared-hash count: a new-new pair appears in both
    # directions and double-counting would inflate `shared` past the gate
    return _shared_pairs(a.unionByName(b), cfg, distinct=True)
