"""128-perm MinHash kernel — NumPy-vectorized, Arrow-batched.

Spark's built-in MinHashLSH is a JVM ML model that owns its banding and does
not fit a checkpointed stage contract (SURVEY.md §7.3), so the signature
kernel lives here: h_i(x) = (a_i * x + b_i) over uint64 with the top 32 bits
kept — a multiply-shift universal family, standard for MinHash.

For a doc with shingle set S (m values) the kernel computes
``min over S of (A[:,None] * S[None,:] + B[:,None]) >> 32`` blockwise —
one (num_perms x m) uint64 matrix per doc, no per-shingle Python.
"""

from __future__ import annotations

import numpy as np

from ..config import DedupConfig, DEFAULT_CONFIG


def perm_params(cfg: DedupConfig = DEFAULT_CONFIG) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic (a, b) parameter vectors for the permutation family."""
    rng = np.random.default_rng(cfg.minhash_seed)
    a = rng.integers(1, 1 << 61, size=cfg.num_perms, dtype=np.uint64) | np.uint64(1)  # odd
    b = rng.integers(0, 1 << 61, size=cfg.num_perms, dtype=np.uint64)
    return a, b


_EMPTY_SENTINEL = np.int64((1 << 31) - 1)  # signature value for empty docs


def minhash_signature(shingles: np.ndarray, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """int64[num_perms] signature of one shingle set (uint64 values).

    A whole-batch ``np.minimum.reduceat`` variant ran 8-24x slower in
    round 6, so callers loop over docs with this per-doc kernel.
    """
    if shingles.size == 0:
        return np.full(a.shape[0], _EMPTY_SENTINEL, dtype=np.int64)
    # (P, m) matrix; uint64 wrap-around multiply-add, keep top 32 bits
    hv = (a[:, None] * shingles[None, :] + b[:, None]) >> np.uint64(32)
    return hv.min(axis=1).astype(np.int64)

