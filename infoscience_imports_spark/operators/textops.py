"""Text-analysis operators for training-data pipelines.

All hot paths are pure Column expressions (whole-stage codegen) — language
ID, quality scoring and token counting never leave the JVM. The winnowing
fingerprint is one per-document Arrow kernel (no shuffle).

These generalize the reference's scalar-function surface (SURVEY.md §2.8:
clean_title/clean_value normalization kernels, fuzzy keyword predicates)
into the standard web-corpus curation set.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# deliberately small, deterministic marker lists (shared with oracle SQL)
LANG_MARKERS = {
    "en": ("the", "and", "of"),
    "fr": ("le", "la", "et"),
    "de": ("der", "die", "und"),
    "es": ("el", "los", "las"),
}

STOPWORDS = ("the", "a", "an", "and", "of", "to", "in", "is", "it")

# BPE-ish token pattern: letter runs, digit runs, single other glyphs
TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens_col(text: Column) -> Column:
    """Whitespace tokens of normalized text (empty text -> empty array).

    Direct extract form: the tokens of ``normalize_text_col(text)`` ARE the
    ASCII-lowercased maximal ``[0-9A-Za-z]`` runs of the tag-stripped text
    (see the equivalence argument there), so this skips the join-then-split
    round trip and the pathologically slow many-match ``regexp_replace``
    (~100x per-row win measured at sf1.0). NULL text -> NULL array, '' ->
    empty array — same as the split/filter form.
    """
    s = F.regexp_replace(text, r"<[^>]*>", " ")
    return F.transform(
        F.regexp_extract_all(s, F.lit(r"[0-9A-Za-z]+"), 0), lambda t: F.lower(t)
    )


def token_count(text: Column) -> Column:
    # counting needs neither the per-token lowercase map nor the array
    # materialization order — size(extract_all) == size(tokens_col) because
    # lower() is a per-element bijection on the run array
    s = F.regexp_replace(text, r"<[^>]*>", " ")
    return F.size(F.regexp_extract_all(s, F.lit(r"[0-9A-Za-z]+"), 0))


def bpe_ish_count(text: Column) -> Column:
    """Sub-token count under the BPE-ish regex (raw text, pre-normalization)."""
    return F.size(F.regexp_extract_all(text, F.lit(TOKEN_PATTERN), 0))


def lang_id_col(text: Column) -> Column:
    """Marker-word language ID: the language with the most marker hits wins.

    Deterministic tie-break by fixed language order; 'und' when no marker
    appears. Shares its exact semantics with the SQL oracle in
    ``__spark_entry__`` — keep both in sync.

    NB: the returned Column embeds the tokenization 12x (once per marker) —
    Catalyst has no cross-expression CSE, so each copy re-normalizes and
    re-splits the text. Callers on a hot path should hoist the token array
    into its own projection and use :func:`lang_id_from_tokens` (guide §2.3
    "don't compute things twice"); this single-Column form is kept for
    API compatibility and cold paths.
    """
    return lang_id_from_tokens(tokens_col(text))


def lang_id_from_tokens(toks: Column) -> Column:
    """:func:`lang_id_col` over a pre-computed token-array column.

    Hoisting the array into a separate projection makes Catalyst evaluate
    the tokenization once per row instead of once per marker expression
    (CollapseProject keeps multi-referenced non-trivial aliases in their
    own Project). Semantics are identical by construction — this IS the
    body of ``lang_id_col``.
    """

    def marker_count(marker: str):
        # NB: a two-arg lambda in F.filter means (element, index) — keep one arg
        return F.size(F.filter(toks, lambda x: x == F.lit(marker)))

    scores = []
    for lang, markers in LANG_MARKERS.items():
        score = sum((marker_count(m) for m in markers), start=F.lit(0))
        scores.append((lang, score))
    # argmax with fixed order tie-break: fold over pairs
    best_lang, best_score = F.lit("und"), F.lit(0)
    for lang, score in scores:
        is_better = score > best_score
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(is_better, score).otherwise(best_score)
    return best_lang


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword ratio features + a composite score.

    The token array is hoisted into its own projection first: inlining
    ``tokens_col(text)`` into every ratio expression made Catalyst evaluate
    the normalize+split chain 6x per row (no cross-expression CSE, and the
    higher-order filters keep this Project out of whole-stage codegen's
    subexpression elimination) — measured 6.1 s -> see OPTIMIZATION_r06.md
    for the before/after. CollapseProject keeps the hoisted alias separate
    because it is non-trivial and multi-referenced, so the chain now runs
    once per row. Output values are bit-identical (same expressions, same
    evaluation order).
    """
    text = F.col(text_col)
    toks = F.col("__qf_toks")
    n_tok = F.col("__qf_ntok").cast("double")
    n_chars = F.length(text).cast("double")
    n_alpha = F.col("__qf_nalpha")
    n_punct = F.length(F.regexp_replace(text, r"[^.,;:!?]", "")).cast("double")
    n_stop = F.size(
        F.filter(toks, lambda x: x.isin([F.lit(s) for s in STOPWORDS]))
    ).cast("double")

    safe = lambda num, den: F.when(den > 0, num / den).otherwise(F.lit(0.0))  # noqa: E731
    return (
        df.withColumn("__qf_toks", tokens_col(text))
        .withColumns(
            {
                "__qf_ntok": F.size(toks),
                "__qf_nalpha": F.length(
                    F.regexp_replace(text, r"[^A-Za-z]", "")
                ).cast("double"),
            }
        )
        .withColumns(
            {
                "n_tokens": F.col("__qf_ntok"),
                "avg_token_len": safe(n_alpha, n_tok),
                "alpha_ratio": safe(n_alpha, n_chars),
                "punct_ratio": safe(n_punct, n_chars),
                "stopword_ratio": safe(n_stop, n_tok),
            }
        )
        .withColumn(
            "quality_score",
            F.round(
                F.least(F.col("n_tokens") / F.lit(100.0), F.lit(1.0)) * 0.4
                + F.col("alpha_ratio") * 0.4
                + (F.lit(1.0) - F.least(F.col("punct_ratio") * 5.0, F.lit(1.0))) * 0.2,
                6,
            ),
        )
        .drop("__qf_toks", "__qf_ntok", "__qf_nalpha")
    )


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03 — public).

    k-gram rolling hashes, then the min hash of every sliding window of
    ``window`` consecutive k-grams is selected; distinct selected hashes are
    the doc's fingerprints. Tokens hash with the engine-portable polynomial
    fold, so an independent SQL engine can verify the output row for row.

    Runs as ONE Arrow ``mapInPandas`` kernel with per-row NumPy sliding
    windows: fingerprints are a strictly per-document quantity, so the
    previous posexplode of every token through a shuffle + two sorted
    rolling windows + an array aggregation (O(total tokens) exchanged, the
    whole corpus re-sorted twice) bought nothing but exchange and sort time
    — guide §2.4 "remove shuffles outright". Measured at sf1.0: 5.9 s /
    23 MB shuffle -> sub-second / zero shuffle, byte-identical output
    (pinned by tests/test_parity_ops.py, which keeps the window plan as the
    reference, and the DuckDB oracle hash). ``id_col`` must be an integer
    column; it is emitted as long.
    """
    from pyspark.sql.types import IntegralType

    id_type = df.schema[id_col].dataType
    if not isinstance(id_type, IntegralType):
        raise TypeError(
            f"winnowing_fingerprints needs an integer id column; "
            f"{id_col!r} is {id_type.simpleString()}"
        )

    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from ..functions.text import normalize_text_py

    src = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_text"))
    schema = StructType(
        [
            StructField("doc_id", LongType(), False),
            StructField("fingerprints", ArrayType(LongType(), False), True),
            StructField("n_fingerprints", IntegerType(), False),
        ]
    )
    win = window
    mod = 1 << 31

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo: dict[str, int] = {}

        def tok_hash(t: str) -> int:
            # polynomial fold — the exact twin of the DuckDB list_reduce
            # oracle (hash-pinned in CORRECTNESS)
            h = memo.get(t)
            if h is None:
                h = 7
                for c in t:
                    h = (h * 31 + ord(c)) % 1_000_003
                memo[t] = h
            return h

        pad_val = np.int64(1) << np.int64(62)
        for pdf in batches:
            ids, fps, nf = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["_text"]):
                toks = normalize_text_py(text if isinstance(text, str) else "").split()
                n = len(toks)
                if n < k:
                    continue  # contract: docs with < k tokens emit no grams
                h = np.fromiter((tok_hash(t) for t in toks), dtype=np.int64, count=n)
                c = np.concatenate((np.zeros(1, dtype=np.int64), np.cumsum(h)))
                g = (c[k:] - c[:-k]) % mod  # m = n-k+1 k-gram rolling sums
                if win > 1:
                    padded = np.concatenate((g, np.full(win - 1, pad_val, dtype=np.int64)))
                    fp = np.lib.stride_tricks.sliding_window_view(padded, win).min(axis=1)
                else:
                    fp = g
                u = np.unique(fp)
                ids.append(int(doc_id))
                fps.append(u)
                nf.append(u.size)
            # explicit dtypes: an all-short-docs partition yields zero rows,
            # and a bare empty list would type the array column float64 —
            # which Arrow cannot convert to list<int64>
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "fingerprints": pd.Series(fps, dtype="object"),
                    "n_fingerprints": pd.Series(nf, dtype="int32"),
                }
            )

    return src.mapInPandas(kernel, schema=schema)


def top_ngrams(docs: DataFrame, n: int = 5, k: int = 100, text_col: str = "text") -> DataFrame:
    """Top-k word n-grams by document frequency — corpus statistics for
    boilerplate detection and tokenizer-corpus curation.

    df counts DOCUMENTS containing the n-gram (``array_distinct`` per doc
    before the explode), not occurrences — the quantity the LSH hot-bucket
    cap and the AllPairs df-ascending prefix order key off, surfaced as a
    user-facing report. Pure Column expressions into a partial-agg count;
    the final top-k is ``orderBy().limit()`` which Spark executes as
    TakeOrdered (per-partition heaps + a k-row driver merge), so nothing
    global is ever sorted. Ties at the k boundary break on the gram string
    for a deterministic result set."""
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("_t") - F.lit(n - 1)),
            lambda i: F.concat_ws(" ", F.slice("_t", i, n)),
        )
    )
    return (
        docs.select(tokens_col(F.col(text_col)).alias("_t"))
        .filter(F.size("_t") >= n)
        .select(F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.col("df").desc(), F.col("gram").asc())
        .limit(k)
    )
