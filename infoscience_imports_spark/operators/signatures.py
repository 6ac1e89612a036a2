"""Stage 2 — signatures: normalized text -> shingle set + MinHash + SimHash.

One Arrow ``mapInPandas`` pass per input partition computes, per doc:
  - sorted unique 63-bit 5-gram shingle hashes (kept for the exact-Jaccard
    verify join, which then runs JVM-side via array_intersect),
  - 128-perm MinHash signature (NumPy kernel, functions/minhash.py), folded
    in-kernel into the LSH band keys (``bands``) — the raw signature is
    never emitted,
  - SimHash64 of the title-like field (first ``title_tokens`` tokens),
  - content digest (xxhash64 of normalized text — computed JVM-side before
    the UDF) for the exact-duplicate fast path, the web-scale analogue of the
    reference's exact ``doi_id`` key (``data_pipeline/deduplicator.py:49-50``).

No per-row Python outside the Arrow batch loop; token hashing is memoized per
batch and shingle/minhash math is vectorized (BASELINE.json input_hint: "no
per-row Python").
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..config import DedupConfig, DEFAULT_CONFIG
from ..functions.minhash import perm_params, minhash_signature
from ..functions.shingles import shingle_hashes, token_hashes
from ..functions.simhash import simhash64

SIGNATURE_FIELDS = [
    StructField("doc_id", LongType(), False),
    StructField("digest", LongType(), True),
    StructField("bands", ArrayType(LongType(), False), True),
    StructField("simhash64", LongType(), True),
    StructField("bottomk", ArrayType(LongType(), False), True),
    StructField("n_shingles", IntegerType(), True),
    StructField("n_tokens", IntegerType(), True),
]

_FNV = np.uint64(0x100000001B3)
_MIX_CONST = np.uint64(0x9E3779B97F4A7C15)


def band_keys(minhashes: np.ndarray, n_bands: int) -> np.ndarray:
    """Vectorized LSH band bucket keys: (n_docs, num_perms) -> (n_docs, b).

    FNV-style fold of each band's r signature values, seeded by the band
    index so bands never collide with each other. Any deterministic
    injective-enough mix works here — bucket keys only ever feed equality
    joins, and candidate false positives are removed by the exact-Jaccard
    verify stage. Computing them in the signature kernel (one reshape +
    vectorized fold) replaces a per-row interpreted slice+hash chain in the
    buckets stage (measured 2.4 s -> 0.2 s at 100k pages, 8 cores).
    """
    n, perms = minhashes.shape
    r = perms // n_bands
    vals = minhashes.reshape(n, n_bands, r).astype(np.uint64)
    keys = np.arange(n_bands, dtype=np.uint64)[None, :] * _MIX_CONST
    for j in range(r):
        keys = (keys ^ vals[:, :, j]) * _FNV
    return keys.astype(np.int64)

SHINGLES_FIELD = StructField("shingles", ArrayType(LongType(), False), True)


def signature_schema(include_shingles: bool = True, keep_text: bool = False) -> StructType:
    fields = list(SIGNATURE_FIELDS)
    if include_shingles:
        fields.append(SHINGLES_FIELD)
    if keep_text:
        fields.append(StructField("text_norm", StringType(), True))
    return StructType(fields)


def compute_signatures(
    df: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
    text_col: str = "text_norm",
    id_col: str = "doc_id",
    title_tokens: int = 12,
    include_shingles: bool = True,
    keep_text: bool = False,
) -> DataFrame:
    """(doc_id, text_norm) -> signatures table.

    ``digest`` is computed with the JVM xxhash64 before entering the Arrow
    kernel so the exact-dup fast path never leaves codegen.

    ``include_shingles=False`` drops the full shingle-set column (the fattest
    field by far — ~8 bytes per token). The checkpointed pipeline uses this:
    storing shingle sets trades cheap, core-scaling CPU (recomputing them
    from text) for expensive, non-scaling I/O (reading them back from disk
    at every verify join). ``bottomk`` (the k smallest hashes, the
    containment sketch) is always kept — it is tiny.

    ``keep_text=True`` passes ``text_norm`` through the kernel into the
    output (no join, no extra shuffle) — for callers whose downstream state
    must be text-self-contained (the streaming doc state feeding deep
    compaction's containment verify).
    """
    k = cfg.shingle_k
    a_param, b_param = perm_params(cfg)
    out_schema = signature_schema(include_shingles, keep_text)
    bottomk_n = cfg.bottomk
    n_bands = cfg.lsh_bands

    src = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(text_col).alias("_text"),
        F.xxhash64(F.col(text_col)).alias("digest"),
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # NB (round 6): a whole-batch stacked multiply-add with
        # np.minimum.reduceat was tried here and REVERTED — reduceat's
        # generalized-ufunc segment loop measured 8-24x SLOWER than the
        # per-doc (P, m) matmul-min in either axis orientation, so the
        # per-doc kernel below IS the fast form (numbers in
        # OPTIMIZATION_r06.md "tried and reverted").
        for pdf in batches:
            memo: dict[str, int] = {}
            n = len(pdf)
            minhashes = [None] * n
            simhashes = np.zeros(n, dtype=np.int64)
            bottomks = [None] * n
            shingle_lists = [None] * n if include_shingles else None
            n_sh = np.zeros(n, dtype=np.int32)
            n_tok = np.zeros(n, dtype=np.int32)
            for i, text in enumerate(pdf["_text"].to_numpy()):
                toks = text.split() if isinstance(text, str) else []
                th = token_hashes(toks, memo)
                sh = shingle_hashes(th, k)
                minhashes[i] = minhash_signature(sh, a_param, b_param)
                # SimHash over the title-like prefix (short-field path)
                head = th[:title_tokens]
                fp = simhash64(head)
                simhashes[i] = np.int64(np.uint64(fp).astype(np.int64))
                bottomks[i] = sh[:bottomk_n].astype(np.int64)  # sh is sorted
                if include_shingles:
                    shingle_lists[i] = sh.astype(np.int64)
                n_sh[i] = sh.size
                n_tok[i] = len(toks)
            bands = (
                list(band_keys(np.stack(minhashes), n_bands)) if n else []
            )
            out = {
                "doc_id": pdf["doc_id"].to_numpy(),
                "digest": pdf["digest"].to_numpy(),
                "bands": bands,
                "simhash64": simhashes,
                "bottomk": bottomks,
                "n_shingles": n_sh,
                "n_tokens": n_tok,
            }
            if include_shingles:
                out["shingles"] = shingle_lists
            if keep_text:
                out["text_norm"] = pdf["_text"].to_numpy()
            yield pd.DataFrame(out)

    return src.mapInPandas(kernel, schema=out_schema)

