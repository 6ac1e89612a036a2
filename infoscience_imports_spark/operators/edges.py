"""Fuzzy edge families: the one composition of candidates, gate and verify.

The reference applies one rule cascade to every record set — exact key,
then fuzzy candidates, then verify (``deduplicator.py:117-139``). This is
its fuzzy half: the MinHash band, bottom-k containment and SimHash
block-combination families, composed once for the batch pipeline's edges
stage and for streaming deep compaction. The exact family stays with the
caller, which owns the digest representatives.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import persist_tracked
from ..config import DedupConfig, DEFAULT_CONFIG
from . import containment as cont
from . import lsh
from . import verify


def _touched_keys(keys: DataFrame, scope_keys: DataFrame) -> DataFrame:
    """``keys`` rows in the (band, bucket) keys that scope docs touch.

    The semi-join prunes BEFORE the pairing aggregation, so the candidate
    shuffle is O(touched buckets), not O(corpus)."""
    return keys.join(
        scope_keys.select("band", "bucket").distinct(),
        on=["band", "bucket"],
        how="left_semi",
    )


def _involving(pairs: DataFrame, scope: DataFrame) -> DataFrame:
    """Pairs with at least one side in ``scope`` (old-old pairs in a touched
    bucket were already verified by the pass that set the watermark)."""
    p1 = pairs.join(scope.select(F.col("doc_id").alias("id1")), on="id1", how="left_semi")
    p2 = pairs.join(scope.select(F.col("doc_id").alias("id2")), on="id2", how="left_semi")
    return p1.select("id1", "id2").unionByName(p2.select("id1", "id2")).distinct()


def edge_families(
    reps: DataFrame,
    texts: DataFrame,
    buckets: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
    scope: DataFrame | None = None,
    n_docs_hint: int | None = None,
) -> tuple[DataFrame, int]:
    """Verified minhash/contain/simhash edges and the gated candidate count.

    ``reps`` carries (doc_id, n_shingles, simhash64, bottomk), ``texts``
    (doc_id, text_norm) and ``buckets`` the (doc_id, band, bucket) MinHash
    band rows of ``reps``; ``n_docs_hint`` sizes the containment Bloom
    without a count. ``scope`` (a doc_id frame) keeps only pairs with a
    scope doc on one side, pairing only the (band, bucket) keys scope docs
    touch; ``None`` is the full pass.

    The three candidate frames are unioned as ONE ``(id1, id2, rule)``
    frame, persisted (tracked, :mod:`..caching`) and counted once: the
    candidate subtrees run as independent stages of a single job, where
    per-family gates would chain serial jobs. Under
    ``cfg.broadcast_pair_limit`` both verify consumers broadcast the pair
    side; above it they shuffle.

    Returns (edges with ``id1, id2, jaccard, rule``, candidate count).
    """
    sim_keys = lsh.simhash_band_keys(reps, cfg)
    if scope is None:
        contain_cand = cont.containment_candidates(reps, texts, cfg, n_docs_hint=n_docs_hint)
        scoped = lambda pairs: pairs  # noqa: E731
    else:
        scope_reps = reps.join(scope, on="doc_id", how="left_semi")
        buckets = _touched_keys(buckets, lsh.band_buckets(scope_reps, cfg))
        sim_keys = _touched_keys(sim_keys, lsh.simhash_band_keys(scope_reps, cfg))
        contain_cand = cont.containment_candidates_scoped(reps, texts, scope, cfg)
        scoped = lambda pairs: _involving(pairs, scope)  # noqa: E731
    # One candidate_pairs per LSH family, not one over a banded union of
    # both key tables: the union serialized the families through one longer
    # shuffle chain (edges 8.2 s -> 11.0 s at 20k pages, reverted). The
    # constructors run no job but the containment Bloom build, so all
    # candidate work lands in the gated count below.
    minhash_pairs = scoped(lsh.candidate_pairs(buckets, cfg)).select(
        "id1", "id2", F.lit("minhash").alias("rule")
    )
    contain_pairs = contain_cand.select(
        F.col("small_id").alias("id1"),
        F.col("big_id").alias("id2"),
        F.lit("contain").alias("rule"),
    )
    sim_pairs = scoped(lsh.candidate_pairs(sim_keys, cfg)).select(
        "id1", "id2", F.lit("simhash").alias("rule")
    )
    cands = persist_tracked(
        minhash_pairs.unionByName(contain_pairs).unionByName(sim_pairs)
    )
    n_cands = cands.count()
    small = n_cands <= cfg.broadcast_pair_limit
    fz_pairs = cands.filter(F.col("rule") != "simhash")
    sh_pairs = cands.filter(F.col("rule") == "simhash").select("id1", "id2")
    if small:
        fz_pairs = fz_pairs.hint("broadcast")
    # both text rules verify in ONE kernel pass over ONE pair of text joins
    fuzzy = verify.verify_tagged_pairs(fz_pairs, texts, cfg, pregated=True)
    simhash = lsh.hamming_edges(sh_pairs, reps, cfg, gated=small).select(
        "id1",
        "id2",
        (F.lit(1.0) - F.col("hamming") / F.lit(64.0)).alias("jaccard"),
        F.lit("simhash").alias("rule"),
    )
    return fuzzy.unionByName(simhash), n_cands
