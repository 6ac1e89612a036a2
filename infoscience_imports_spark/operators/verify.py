"""Stage 4 — edges: exact-dup fast path + exact-Jaccard verification.

Reference parity:
  - exact path == the reference's exact ``doi_id`` key pass
    (``data_pipeline/deduplicator.py:49-50, 117-128``): here the key is the
    xxhash64 content digest of normalized text; every digest group is linked
    to its min-id representative (star edges — O(group) not O(group^2),
    which is what keeps the HOT/boilerplate class linear);
  - Jaccard verify == the reference's fuzzy verification
    (``rapidfuzz partial_ratio >= 80``, ``data_pipeline/enricher.py:197``)
    made exact: candidates join back to their stored shingle sets and the
    Jaccard is computed JVM-side with array_intersect — no Python, no UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..caching import persist_tracked
from ..config import DedupConfig, DEFAULT_CONFIG

EDGE_COLUMNS = ["id1", "id2", "jaccard", "rule"]


def gate_broadcast(pairs: DataFrame, limit_rows: int) -> DataFrame:
    """Broadcast a candidate-pair frame iff its *measured* size allows it.

    The pair list is persisted (narrow — two longs a row) and counted once;
    under ``limit_rows`` it gets the broadcast hint (the wide shingle/text
    side then streams through the join without a shuffle), above it the hint
    is omitted and Spark plans a shuffle join. An unconditional hint OOMs
    executors when web-scale candidate generation emits billions of pairs;
    an unconditional shuffle wastes the common small case. The count is an
    aggregate action — no pair data ever lands on the driver.

    The persist also de-duplicates work: callers reference the pair frame in
    two join branches, which would otherwise re-run candidate generation.
    """
    frame, _small = gate_broadcast_info(pairs, limit_rows)
    return frame


def gate_broadcast_info(pairs: DataFrame, limit_rows: int) -> tuple[DataFrame, bool]:
    """:func:`gate_broadcast` plus the gate's decision, for callers that
    chain further joins under the same size bound."""
    pairs = persist_tracked(pairs)
    n = pairs.count()
    small = n <= limit_rows
    return (pairs.hint("broadcast") if small else pairs), small


def exact_edges(signatures: DataFrame) -> DataFrame:
    """Star edges linking each doc to the min doc_id of its digest group.

    Fast path: the signatures stage stores ``rep_id`` (digest-group min), so
    this is a shuffle-free filter/select. The window fallback covers frames
    that don't carry the column (direct operator use in tests).
    """
    if "rep_id" in signatures.columns:
        rep = signatures.select("doc_id", F.col("rep_id").alias("rep"))
    else:
        w = Window.partitionBy("digest")
        rep = signatures.select("doc_id", "digest").withColumn(
            "rep", F.min("doc_id").over(w)
        )
    return (
        rep.filter(F.col("doc_id") != F.col("rep"))
        .select(
            F.col("rep").alias("id1"),
            F.col("doc_id").alias("id2"),
            F.lit(1.0).alias("jaccard"),
            F.lit("exact").alias("rule"),
        )
    )


def jaccard_verify(
    pairs: DataFrame,
    signatures: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
    rule: str = "minhash",
    pregated: bool = False,
) -> DataFrame:
    """(id1, id2) candidates -> verified edges with exact shingle Jaccard.

    ``pregated=True``: the caller already persisted (and, if it wants, hinted)
    the pair frame and owns its unpersist — long-running callers (streaming
    micro-batches) must not leak one internal gate persist per batch."""
    sig = signatures.select("doc_id", "shingles", "n_shingles")
    # size-gated broadcast of the narrow pair list (gate_broadcast): small
    # lists stream the wide shingle arrays through both joins shuffle-free,
    # large ones fall back to shuffle joins + AQE
    joined = (
        (pairs if pregated else gate_broadcast(pairs, cfg.broadcast_pair_limit))
        .join(
            sig.select(
                F.col("doc_id").alias("id1"),
                F.col("shingles").alias("sh1"),
                F.col("n_shingles").alias("n1"),
            ),
            on="id1",
        )
        .join(
            sig.select(
                F.col("doc_id").alias("id2"),
                F.col("shingles").alias("sh2"),
                F.col("n_shingles").alias("n2"),
            ),
            on="id2",
        )
    )
    inter = F.size(F.array_intersect("sh1", "sh2"))
    union = F.col("n1") + F.col("n2") - inter
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (
        joined.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= cfg.jaccard_threshold)
        .select("id1", "id2", "jaccard", F.lit(rule).alias("rule"))
    )


def verify_tagged_pairs(
    tagged_pairs: DataFrame,
    texts: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
    pregated: bool = False,
) -> DataFrame:
    """One verify pass for BOTH fuzzy rules over a union of tagged candidates.

    ``tagged_pairs`` carries (id1, id2, rule) where rule ∈ {minhash, contain};
    for ``contain`` rows id1 is the (suspected) contained side. The minhash
    and containment verifications need the same expensive inputs — the two
    normalized texts and their recomputed shingle sets — so running them as
    separate operators scans the extract table twice more and pays a second
    Arrow kernel pass (measured: the split version held the edges stage at
    1.4x from 2 to 8 cores; this unification + a persisted text frame is what
    the stage needed to scale). Semantics are byte-identical to the
    array-based :func:`jaccard_verify` (minhash) and
    ``containment.containment_edges`` (contain): same hash kernels, same
    thresholds, same exact-substring check.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from ..functions.shingles import shingle_hashes, token_hashes
    from ..functions.substring import contains_substring

    t = texts.select("doc_id", "text_norm")
    # pregated=True: the caller already persisted/counted/hinted the pair
    # frame (the pipeline gates ONE unioned candidate frame for all rules —
    # one count job instead of one per consumer)
    pairs = (
        tagged_pairs.select("id1", "id2", "rule")
        if pregated
        else gate_broadcast(tagged_pairs.select("id1", "id2", "rule"), cfg.broadcast_pair_limit)
    )
    joined = (
        pairs
        .join(t.select(F.col("doc_id").alias("id1"), F.col("text_norm").alias("_t1")), on="id1")
        .join(t.select(F.col("doc_id").alias("id2"), F.col("text_norm").alias("_t2")), on="id2")
    )
    k = cfg.shingle_k
    jac_thr = cfg.jaccard_threshold
    con_thr = cfg.containment_threshold
    out_schema = StructType(
        [
            StructField("id1", LongType(), False),
            StructField("id2", LongType(), False),
            StructField("jaccard", DoubleType(), True),
            StructField("rule", StringType(), False),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            memo: dict[str, int] = {}
            # doc-level shingle cache: star pairing makes hub docs appear in
            # many pairs of one batch — shingle each doc once per batch, not
            # once per pair
            sh_cache: dict[int, object] = {}

            def shingles_of(doc_id, text):
                key = int(doc_id)
                got = sh_cache.get(key)
                if got is None:
                    got = shingle_hashes(
                        token_hashes(text.split() if isinstance(text, str) else [], memo), k
                    )
                    sh_cache[key] = got
                return got

            o1, o2, oj, orl = [], [], [], []
            for i1, i2, rule, t1, t2 in zip(
                pdf["id1"], pdf["id2"], pdf["rule"], pdf["_t1"], pdf["_t2"]
            ):
                s1 = shingles_of(i1, t1)
                s2 = shingles_of(i2, t2)
                if rule == "minhash":
                    if s1.size == 0 and s2.size == 0:
                        continue
                    inter = np.intersect1d(s1, s2, assume_unique=True).size
                    jac = inter / (s1.size + s2.size - inter)
                    if jac >= jac_thr:
                        o1.append(int(i1))
                        o2.append(int(i2))
                        oj.append(float(jac))
                        orl.append("minhash")
                else:  # contain: id1 = suspected-contained (small) side
                    if s1.size == 0 or not isinstance(t1, str) or not isinstance(t2, str):
                        continue
                    inter = np.intersect1d(s1, s2, assume_unique=True).size
                    containment = inter / s1.size
                    # Rabin-Karp: bounded worst case on self-similar texts
                    # (identical output to `t1 in t2`, property-tested)
                    if containment >= con_thr and contains_substring(t1, t2):
                        o1.append(min(int(i1), int(i2)))
                        o2.append(max(int(i1), int(i2)))
                        oj.append(float(containment))
                        orl.append("contain")
            yield pd.DataFrame({"id1": o1, "id2": o2, "jaccard": oj, "rule": orl})

    return joined.mapInPandas(kernel, schema=out_schema).distinct()


def combine_edges(*edge_frames: DataFrame) -> DataFrame:
    """Union edge sets, keeping one row per pair (highest-precedence rule).

    Rule precedence: exact > contain > minhash > simhash (mirrors the
    reference's cascade order — exact key pass before fuzzy pass,
    ``deduplicator.py:117-139``).
    """
    precedence = F.create_map(
        F.lit("exact"), F.lit(0),
        F.lit("contain"), F.lit(1),
        F.lit("minhash"), F.lit(2),
        F.lit("simhash"), F.lit(3),
    )
    all_edges = edge_frames[0]
    for e in edge_frames[1:]:
        all_edges = all_edges.unionByName(e)
    w = Window.partitionBy("id1", "id2").orderBy(
        precedence[F.col("rule")].asc(), F.col("jaccard").desc()
    )
    return (
        all_edges.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
