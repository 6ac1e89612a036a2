"""SimHash-64 kernel for short title-like fields.

Web-scale analogue of the reference's fuzzy title match
(``data_pipeline/enricher.py:188-199``: rapidfuzz partial_ratio >= 80 against
a short title field): each doc's title-ish field is hashed to a 64-bit
SimHash fingerprint; near-duplicate titles land within a small Hamming radius
and are paired via pivot-table lookups (see operators/lsh.py simhash path).

Vectorized: per doc, unpack the uint64 token hashes to a (m, 64) bit matrix
with np.unpackbits and column-sum — no per-bit Python loops.
"""

from __future__ import annotations

import numpy as np


def simhash64(tok_hashes: np.ndarray) -> int:
    """64-bit SimHash of a token-hash array (uint64). Empty -> 0."""
    if tok_hashes.size == 0:
        return 0
    bits = np.unpackbits(tok_hashes.astype(">u8").view(np.uint8)).reshape(-1, 64)
    votes = bits.sum(axis=0, dtype=np.int64) * 2 - tok_hashes.size
    fp = 0
    for bit in votes >= 0:
        fp = (fp << 1) | int(bit)
    return fp


def hamming64(x: int, y: int) -> int:
    return bin((x ^ y) & ((1 << 64) - 1)).count("1")

