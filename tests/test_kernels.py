"""Kernel unit tests (pure Python/NumPy, no Spark): shingles, MinHash, SimHash."""

import numpy as np

from infoscience_imports_spark.config import DedupConfig
from infoscience_imports_spark.functions.minhash import (
    minhash_signature,
    perm_params,
)
from infoscience_imports_spark.functions.shingles import (
    text_shingles,
    token_hashes,
)
from infoscience_imports_spark.functions.simhash import (
    hamming64,
    simhash64,
)
from infoscience_imports_spark.sources.synthetic import _rng, _vocab

CFG = DedupConfig()


def _jaccard(a: np.ndarray, b: np.ndarray) -> float:
    sa, sb = set(a.tolist()), set(b.tolist())
    return len(sa & sb) / len(sa | sb) if (sa or sb) else 0.0


def test_shingles_deterministic_and_order_sensitive():
    s1 = text_shingles("a b c d e f g", 5)
    s2 = text_shingles("a b c d e f g", 5)
    assert np.array_equal(s1, s2)
    rev = text_shingles("g f e d c b a", 5)
    assert not np.array_equal(s1, rev)
    assert len(s1) == 3  # 7 tokens -> 3 shingles


def test_short_doc_still_has_a_shingle():
    assert len(text_shingles("one two", 5)) == 1
    assert len(text_shingles("", 5)) == 0


def test_minhash_estimates_jaccard():
    """MinHash agreement rate must track true Jaccard within ~3 sigma."""
    vocab = _vocab(42)
    rng = _rng("mh", 5)
    a, b = perm_params(CFG)
    for target_keep in (0.95, 0.8, 0.6):
        base = [rng.choice(vocab) for _ in range(600)]
        other = [
            t if rng.random() < target_keep else rng.choice(vocab) for t in base
        ]
        s1 = text_shingles(" ".join(base), CFG.shingle_k)
        s2 = text_shingles(" ".join(other), CFG.shingle_k)
        true_j = _jaccard(s1, s2)
        m1 = minhash_signature(s1, a, b)
        m2 = minhash_signature(s2, a, b)
        est = float(np.mean(m1 == m2))
        sigma = (true_j * (1 - true_j) / CFG.num_perms) ** 0.5
        assert abs(est - true_j) < max(4 * sigma, 0.06), (true_j, est)


def test_minhash_identical_sets_agree_fully():
    a, b = perm_params(CFG)
    s = text_shingles("w1 w2 w3 w4 w5 w6 w7 w8", 5)
    assert np.array_equal(minhash_signature(s, a, b), minhash_signature(s.copy(), a, b))


def test_simhash_near_titles_close_far_titles_far():
    vocab = _vocab(42)
    rng = _rng("sh", 9)
    title = [rng.choice(vocab) for _ in range(12)]
    t_same = token_hashes(title)
    t_one_off = token_hashes(title[:-1] + [rng.choice(vocab)])
    t_random = token_hashes([rng.choice(vocab) for _ in range(12)])
    f0, f1, f2 = simhash64(t_same), simhash64(t_one_off), simhash64(t_random)
    assert hamming64(f0, f0) == 0
    assert hamming64(f0, f1) < hamming64(f0, f2)
    assert hamming64(f0, f2) > 10  # random titles are far apart


def test_simhash_block_combination_pigeonhole():
    """r flips damage <= r of the r+3 blocks, so >= 3 blocks stay intact and
    at least one 3-combination of block values matches exactly — the
    invariant behind lsh.simhash_band_pairs' Manku-style tables."""
    from itertools import combinations

    from infoscience_imports_spark.operators.lsh import simhash_blocks

    rng = _rng("blocks", 7)
    for radius in (1, 2, 3, 4):
        blocks = simhash_blocks(radius + 3)
        assert sum(w for _off, w in blocks) == 64
        for _ in range(100):
            fp = rng.getrandbits(64)
            flipped = fp
            for _ in range(radius):
                flipped ^= 1 << rng.randrange(64)

            def vals(x):
                return [(x >> off) & ((1 << w) - 1) for off, w in blocks]

            v1, v2 = vals(fp), vals(flipped)
            assert any(
                all(v1[i] == v2[i] for i in combo)
                for combo in combinations(range(len(blocks)), 3)
            )


def test_empty_doc_signature_is_sentinel():
    a, b = perm_params(CFG)
    sig = minhash_signature(np.empty(0, dtype=np.uint64), a, b)
    assert len(set(sig.tolist())) == 1


# -- Rabin-Karp substring (functions/substring.py) ---------------------------

def test_contains_substring_matches_python_in():
    from infoscience_imports_spark.functions.substring import contains_substring

    from hypothesis import given, settings, strategies as st

    # small alphabet forces periodic/self-similar strings — the adversarial
    # class for naive substring search and the realistic boilerplate case
    text = st.text(alphabet="ab x", min_size=0, max_size=400)

    @given(needle=text, hay=text)
    @settings(max_examples=300, deadline=None)
    def check(needle, hay):
        assert contains_substring(needle, hay) == (needle in hay)

    check()


def test_contains_substring_long_needles_and_unicode():
    from infoscience_imports_spark.functions.substring import contains_substring

    base = "la plage de sète é" * 40  # > 64 bytes, multi-byte chars
    assert contains_substring(base, "prefix " + base + " suffix")
    assert not contains_substring(base + "!", "prefix " + base)
    assert contains_substring("", "anything")
    assert not contains_substring("longer than hay", "short")
    # planted mid-text with hash-adversarial periodicity
    periodic = "ab" * 200
    assert contains_substring(periodic, "x" * 99 + periodic + "y")
    assert not contains_substring(periodic + "b", "x" + periodic + "a")


def test_contains_substring_numpy_path_property():
    # pad the haystack past the 64 KB stdlib cutoff so the rolling-hash path
    # (not CPython's search) is what gets exercised
    from infoscience_imports_spark.functions.substring import contains_substring

    from hypothesis import given, settings, strategies as st

    long_needle = st.text(alphabet="ab", min_size=64, max_size=200)
    affix = st.text(alphabet="ab", min_size=0, max_size=120)
    PAD = "x" * (1 << 16)

    @given(needle=long_needle, pre=affix, post=affix, planted=st.booleans())
    @settings(max_examples=150, deadline=None)
    def check(needle, pre, post, planted):
        hay = PAD + pre + (needle if planted else "") + post
        assert contains_substring(needle, hay) == (needle in hay)

    check()
