"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship near-dup clustering over
``/root/testdata/sf0.001/documents.parquet``; ``queries()`` exposes the
operator surface from SURVEY.md §2 plus the training-data-pipeline set
(dedup, similarity search, text analysis); ``oracle_sql()`` carries the
DuckDB twins. Column names and value semantics are kept byte-comparable:
exact arithmetic uses DECIMAL before any float cast, float expressions share
evaluation order, and every ranking has a total-order tie-break.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from infoscience_imports_spark.caching import persist_tracked, release_all
from infoscience_imports_spark.config import DedupConfig
from infoscience_imports_spark.functions.text import normalize_text_col
from infoscience_imports_spark.operators import lsh, signatures as sigs, verify
from infoscience_imports_spark.operators.components import attach_clusters, connected_components
from infoscience_imports_spark.operators.decontaminate import contamination_report, shingle_frame
from infoscience_imports_spark.operators.family import aggregate_families
from infoscience_imports_spark.operators.upsert import upsert
from infoscience_imports_spark.session import path_bytes
from infoscience_imports_spark.operators.similarity import (
    ann_ivf_topk,
    ann_signlsh_topk,
    cosine_topk,
    hyperplanes,
    probe_masks,
    similar_pairs,
    similar_pairs_lsh,
)
from infoscience_imports_spark.operators.textops import (
    LANG_MARKERS,
    STOPWORDS,
    TOKEN_PATTERN,
    bpe_ish_count,
    lang_id_col,
    quality_features,
    token_count,
    tokens_col,
    winnowing_fingerprints,
)

CFG = DedupConfig()

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

# Query helpers cache frames that feed multiple consumers (signature frames,
# shingle tables) with ``caching.persist_tracked``. In a long-lived session
# running many queries those caches would accumulate (round-3 verdict: cache
# leak at the jaccard/containment helpers), so the harness calls
# ``release_caches()`` between queries.
def release_caches() -> None:
    """Unpersist every frame a ``queries()`` callable cached so far.

    Harness contract: callers that run many queries in one session (bench.py,
    the driver's correctness sweep) invoke this between queries; callers that
    run one query and exit may skip it. Drains the package-level registry
    (query helpers and operator-internal candidate-gate / posting-table
    persists all register there).
    """
    release_all()


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _size_bytes(conf_val: str) -> int:
    """Parse a Spark size conf string ('32m', '1g', '134217728') to bytes."""
    s = conf_val.strip().lower()
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if s and s[-1] in mult:
        return int(float(s[:-1]) * mult[s[-1]])
    return int(s)


def _t_par(spark: SparkSession, sf_dir: str, name: str, key: str | None = None) -> DataFrame:
    """Read a table, repairing scan parallelism for small single-file inputs.

    A table held in one small parquet file (or one with few row groups)
    yields a near-serial scan: every downstream per-row expression then runs
    on 1-2 cores while the rest idle (guide §2.5 input skew / §6 input split
    size — measured: text_quality 6.1 s at sf1.0 with 1 effective scan
    task vs ~0.5 s repartitioned). The fix is scale-ADAPTIVE, not a blind
    repartition: only when the whole table is smaller than one scan split
    per core (so byte-splitting provably cannot feed the cluster) is a
    repartition to ``defaultParallelism`` inserted — at production scale the
    gate never fires and no shuffle is added. ``key`` selects hash
    partitioning (no sort-before-repartition pass, deterministic spread on
    a near-unique column) over round-robin.
    """
    df = _t(spark, sf_dir, name)
    # an unknown or zero size adds no shuffle: the gate fails closed
    total = path_bytes(spark, f"{sf_dir}/{name}.parquet")
    if total is None:
        return df
    par = spark.sparkContext.defaultParallelism
    split = _size_bytes(spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728"))
    if total >= par * split:
        return df
    return df.repartition(par, F.col(key)) if key else df.repartition(par)


def _doc_norm(docs: DataFrame) -> DataFrame:
    return docs.withColumn("text_norm", normalize_text_col(F.col("text")))


def _doc_shingles_hashed(spark, sf_dir):
    """(doc_id, shs: sorted-unique int64 5-gram hashes, n) over documents,
    from the shared Arrow shingle kernel (docs with < 5 normalized tokens
    emit no row). The interpreted higher-order Column form (regex + split +
    sequence + slice + concat per row) measured ~12 s per evaluation over 5k
    docs on one core; the kernel runs on all cores. Downstream Jaccard on
    the hash SETS equals Jaccard on the string sets (injective modulo 2^-63
    collisions — same accepted risk as the posting join keys)."""
    # one small parquet file would otherwise pin the kernel to one task
    return shingle_frame(_t_par(spark, sf_dir, "documents"), n=5)


def _bruteforce_jaccard_pairs(spark, sf_dir, threshold=0.70):
    """Exact 5-gram Jaccard pairs via prefix-filtered AllPairs (Bayardo,
    Ma, Srikant, "Scaling Up All Pairs Similarity Search", WWW'07 — public
    literature). Output identical to the naive inverted-index join; the
    candidate join touches only each doc's PREFIX postings.

    Why: the naive posting self-join emits O(c^2) rows for a shingle shared
    by c docs (round-2 verdict #3 — boilerplate shingles made this the most
    expensive bench query, and a certain quadratic corner at web scale).
    Prefix filtering is the *exact* fix: order every doc's shingles by one
    global canonical order (document frequency asc, hash asc — hot
    boilerplate shingles land LAST) and index only the first
    n - ceil(t*n) + 1 of them. J(A,B) >= t implies |A∩B| >= ceil(t*max) >=
    ceil(t*n_A), and two sets with that much overlap must collide inside
    these prefixes (pigeonhole on the shared order), so the prefix join is a
    superset of the answer; a length filter (min >= t*max) prunes further,
    and the exact Jaccard on the full hash arrays (JVM array_intersect)
    removes false candidates."""
    hs = persist_tracked(_doc_shingles_hashed(spark, sf_dir))
    postings = hs.select("doc_id", "n", F.explode("shs").alias("s"))
    freq = postings.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("s").asc())
    # boundary guard: when t*n is an exact integer whose double rounds UP
    # (e.g. 0.8*10 = 8.000000000000002), a bare ceil would shorten the prefix
    # below the lemma's bound and silently drop exact-boundary pairs; the
    # epsilon (>> double error ~1e-15, << any real fractional part) restores
    # exact ceil while never lengthening legitimate non-integer cases
    eps = 1e-9
    pref = (
        postings.join(freq.hint("shuffle_hash"), on="s")
        .withColumn("_rn", F.row_number().over(w))
        .filter(
            F.col("_rn")
            <= F.col("n") - F.ceil(F.lit(threshold) * F.col("n") - F.lit(eps)) + 1
        )
        # df == 1 prefix postings can never produce a candidate: the shingle
        # exists in exactly one document, so the a.s == b.s equi-join has no
        # cross-document partner for it. Dropping them AFTER the rank (the
        # prefix selection itself is unchanged) shrinks both self-join inputs
        # — most shingles are unique, so this removes the bulk of the pair
        # join's shuffle (guide §2.3 "shuffle fewer bytes")
        .filter(F.col("df") > 1)
        .select("doc_id", "n", "s")
    )
    # prefix postings are still O(corpus): pin shuffle-hash (a size-estimate
    # flip to broadcast would build a corpus-sized hash relation — the
    # anti-scaling class the LSH candidate stage eliminated outright in
    # round 4, operators/lsh.py)
    a = pref.alias("a").hint("shuffle_hash")
    b = pref.alias("b").hint("shuffle_hash")
    cand = (
        a.join(
            b,
            on=[
                F.col("a.s") == F.col("b.s"),
                F.col("a.doc_id") < F.col("b.doc_id"),
                # same epsilon rationale as the prefix bound: over-inclusion
                # is safe (the exact Jaccard filter prunes), exclusion at an
                # exact-integer boundary is a wrong answer
                F.least("a.n", "b.n")
                >= F.lit(threshold) * F.greatest("a.n", "b.n") - F.lit(1e-9),
            ],
        )
        .select(F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2"))
        .distinct()
    )
    h1 = hs.select(F.col("doc_id").alias("id1"), F.col("shs").alias("sh1"), F.col("n").alias("n1"))
    h2 = hs.select(F.col("doc_id").alias("id2"), F.col("shs").alias("sh2"), F.col("n").alias("n2"))
    inter = F.size(F.array_intersect("sh1", "sh2"))
    return (
        cand.join(h1, on="id1")
        .join(h2, on="id2")
        .withColumn("jaccard", inter / (F.col("n1") + F.col("n2") - inter))
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", F.round("jaccard", 6).alias("jaccard"))
    )


_NORM_SQL = (
    "lower(trim(regexp_replace(regexp_replace({col}, '<[^>]*>', ' ', 'g'),"
    " '[^0-9A-Za-z]+', ' ', 'g')))"
)
_TOKS_SQL = "list_filter(string_split(" + _NORM_SQL + ", ' '), x -> x != '')"

_PREFIX_KEY_SQL = (
    "array_to_string(list_slice(" + _TOKS_SQL.format(col="text") + ", 1, 8), ' ')"
)

_SHINGLE_CTE = f"""
toks AS (
  SELECT doc_id, {_TOKS_SQL.format(col='text')} AS t FROM documents
),
sh AS (
  SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 3),
    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4])) AS s
  FROM toks WHERE len(t) >= 5
),
postings AS (SELECT doc_id, unnest(s) AS g FROM sh),
sizes AS (SELECT doc_id, len(s) AS n FROM sh),
pairs AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS c
  FROM postings a JOIN postings b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jac AS (
  SELECT id1, id2, c * 1.0 / (sa.n + sb.n - c) AS j
  FROM pairs JOIN sizes sa ON sa.doc_id = id1 JOIN sizes sb ON sb.doc_id = id2
)
"""


# ---------------------------------------------------------------------------
# entry
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: near-dup clusters over sf0.001 documents (MinHash/LSH path)."""
    sf_dir = "/root/testdata/sf0.001"
    docs = _doc_norm(_t(spark, sf_dir, "documents"))
    sg = sigs.compute_signatures(docs, CFG, text_col="text_norm", id_col="doc_id")
    buckets = lsh.band_buckets(sg, CFG)
    pairs = lsh.candidate_pairs(buckets, CFG)
    edges = verify.combine_edges(
        verify.exact_edges(sg), verify.jaccard_verify(pairs, sg, CFG)
    )
    assign = connected_components(edges.select("id1", "id2"), CFG)
    docs_ids = docs.select("doc_id")
    clustered = attach_clusters(docs_ids, assign)
    return (
        clustered.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sort_array(F.collect_list("doc_id")).alias("members"))
        .filter(F.col("n_docs") > 1)
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def _prefix_key(n: int = 8):
    """Composite surrogate key: first n normalized tokens (the web analogue of
    the reference's title+pubyear key, deduplicator.py:51)."""
    toks = F.filter(F.split("text_norm", " "), lambda x: x != "")
    return F.concat_ws(" ", F.slice(toks, 1, n))


def q_dedup_exact_groups(spark, sf_dir):
    docs = _doc_norm(_t(spark, sf_dir, "documents"))
    w = Window.partitionBy(_prefix_key())
    return (
        docs.withColumn("rep_id", F.min("doc_id").over(w))
        .withColumn("group_size", F.count(F.lit(1)).over(w))
        .filter(F.col("group_size") > 1)
        .select("doc_id", "rep_id", "group_size")
    )


def q_dedup_ngram_jaccard(spark, sf_dir):
    return _bruteforce_jaccard_pairs(spark, sf_dir, CFG.jaccard_threshold)


def q_decontaminate_docs(spark, sf_dir):
    """Benchmark decontamination (operators/decontaminate.py): corpus docs
    sharing >= half a probe doc's distinct 5-gram hashes with it — the
    training-data hygiene pass (GPT-3 appendix C's 13-gram collision rule,
    n parameterized). Probes = ``doc_id % 37 == 0`` (a deterministic
    benchmark stand-in); corpus = the rest. The probe posting table is
    measured-gated and broadcast, so the corpus side is never shuffled —
    the only exchange carries the hit rows. Threshold is exact integer
    arithmetic (hits*2 >= probe_n), mirrored verbatim in the oracle."""
    hs = persist_tracked(_doc_shingles_hashed(spark, sf_dir))
    probes = hs.filter(F.pmod(F.col("doc_id"), F.lit(37)) == 0).select(
        F.col("doc_id").alias("probe_id"), "shs", "n"
    )
    corpus = hs.filter(F.pmod(F.col("doc_id"), F.lit(37)) != 0)
    return contamination_report(corpus, probes, CFG, min_frac=(1, 2))


def q_dedup_minhash_lsh(spark, sf_dir):
    """LSH path: signatures -> bands -> candidates -> exact-Jaccard verify."""
    # one small parquet file = one scan split: without the repartition the
    # 128-perm signature kernel runs as a SINGLE task (measured 6.5 s at
    # sf0.1, all of it on one core)
    docs = _doc_norm(_t_par(spark, sf_dir, "documents"))
    # cached: the signature frame feeds candidate generation AND both sides
    # of the shingle verify join — uncached, the Arrow kernel re-runs per
    # consumer (~0.6 s each at sf0.1)
    sg = persist_tracked(sigs.compute_signatures(docs, CFG, text_col="text_norm", id_col="doc_id"))
    pairs = lsh.candidate_pairs(lsh.band_buckets(sg, CFG), CFG)
    return verify.jaccard_verify(pairs, sg, CFG).select(
        "id1", "id2", F.round("jaccard", 6).alias("jaccard")
    )


def q_dedup_clusters(spark, sf_dir):
    """Connected components over verified near-dup edges (cluster ids)."""
    edges = q_dedup_minhash_lsh(spark, sf_dir)
    assign = connected_components(edges.select("id1", "id2"), CFG)
    return assign.select(F.col("doc_id"), F.col("cluster_id"))


def q_dedup_simhash_title(spark, sf_dir):
    """SimHash short-field path made oracle-checkable (round-1 verdict #6):
    banded SimHash on the 12-token title prefix generates candidates (exact
    within the Hamming radius by pigeonhole), then the verify keeps pairs
    whose prefix token MULTISET is identical — identical multisets hash to
    identical SimHashes (Hamming 0), so candidate recall for the verified
    contract is provably 1.0 and the output equals the brute-force DuckDB
    twin. Fuzzier prefix similarity (Hamming 1-3) stays covered by the e2e
    TITLE_DUP recall test, where truth is the planted classes."""
    docs = _doc_norm(_t_par(spark, sf_dir, "documents"))
    toks = F.filter(F.split("text_norm", " "), lambda x: x != "")
    pf = docs.select(
        "doc_id", F.sort_array(F.slice(toks, 1, 12)).alias("ps")
    )
    # cached: the signature frame feeds the banding probe job, the gated
    # candidate count AND both sides of hamming_edges — uncached, the Arrow
    # kernel re-ran once per consumer (measured ~1.2 s each at sf1.0)
    sg = persist_tracked(
        sigs.compute_signatures(
            docs, CFG, text_col="text_norm", id_col="doc_id", include_shingles=False
        )
    )
    cand = lsh.simhash_candidate_pairs(sg, CFG)
    j = (
        cand.join(pf.select(F.col("doc_id").alias("id1"), F.col("ps").alias("ps1")), on="id1")
        .join(pf.select(F.col("doc_id").alias("id2"), F.col("ps").alias("ps2")), on="id2")
    )
    return (
        j.filter(F.col("ps1") == F.col("ps2"))
        .select("id1", "id2", F.size("ps1").alias("n_title_tokens"))
    )


def q_containment_substring(spark, sf_dir):
    """Exact-substring containment pass (G1, ``harvester.py:683-689``
    analogue) made oracle-checkable: bottom-k sketch candidates -> Bloom
    prefiltered posting join -> Arrow verify (shingle containment + exact
    Rabin-Karp substring). At ``containment_threshold=1.0`` candidate recall
    is provably 1.0 — full containment means ALL of small's shingles (hence
    all its bottom-k hashes) appear in big — so the sketch path equals the
    brute-force DuckDB twin exactly. The sketch floor (small needs >=
    ``bottomk_min_match`` shingles to ever match) is part of the operator
    contract and mirrored in the oracle."""
    from dataclasses import replace

    from infoscience_imports_spark.operators.containment import containment_candidates

    cfg = replace(CFG, containment_threshold=1.0)
    docs = persist_tracked(_doc_norm(_t_par(spark, sf_dir, "documents")))
    sg = sigs.compute_signatures(
        docs, cfg, text_col="text_norm", id_col="doc_id", include_shingles=False
    )
    cand = containment_candidates(
        sg.select("doc_id", "bottomk", "n_shingles"),
        docs.select("doc_id", "text_norm"),
        cfg,
    ).select(
        F.col("small_id").alias("id1"), F.col("big_id").alias("id2"), F.lit("contain").alias("rule")
    )
    return verify.verify_tagged_pairs(cand, docs, cfg).select(
        "id1", "id2", F.round("jaccard", 6).alias("containment")
    )


_MESSY_URL_SQL = """
    CASE CAST(doc_id % 4 AS INT)
      WHEN 0 THEN 'HTTP://WWW.' || source || '.Example.COM:80/a/' || CAST(doc_id AS STRING)
                  || '/?utm_source=t&z=1&a=' || CAST(doc_id % 7 AS STRING) || '#frag'
      WHEN 1 THEN 'https://sub.' || source || '.example.co.uk/path/' || CAST(doc_id AS STRING) || '/'
      WHEN 2 THEN 'https://' || source || '.example.com'
      ELSE 'HTTPS://' || source || '.EXAMPLE.com:8080/b?fbclid=x&q=' || CAST(doc_id % 5 AS STRING)
    END
"""


def q_url_canonicalize(spark, sf_dir):
    """URL canonicalization kernel (web analogue of the reference DOI
    normalization, ``normalize_doi`` family): deterministic messy URLs are
    constructed from the documents table (same expression in the DuckDB
    twin), then canonicalized by the pure-Column kernel — scheme/host
    case-fold, www-strip, default-port strip, tracking-param drop +
    byte-sort, fragment and trailing-slash removal — plus host and
    registered-domain extraction. The oracle states the expected canonical
    string analytically, so this is an independent-expectation check of
    the kernel, not a twin of its implementation."""
    from infoscience_imports_spark.functions.urls import (
        canonical_url_col,
        registered_domain_col,
        url_host_col,
    )

    docs = _t(spark, sf_dir, "documents").withColumn("url", F.expr(_MESSY_URL_SQL))
    return docs.select(
        "doc_id",
        canonical_url_col(F.col("url")).alias("url_canon"),
        url_host_col(F.col("url")).alias("host"),
        registered_domain_col(F.col("url")).alias("reg_domain"),
    )


def q_text_token_stats(spark, sf_dir):
    # size-gated repartition: the regex/tokenize chain is CPU-dense and the
    # single-file scan otherwise pins it to 1-2 cores (guide §2.5/§6)
    docs = _t_par(spark, sf_dir, "documents", key="doc_id")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        bpe_ish_count(F.col("text")).alias("n_bpe_tokens"),
        F.length("text").alias("len_chars"),
    )


def q_text_lang_id(spark, sf_dir):
    docs = _t_par(spark, sf_dir, "documents", key="doc_id")
    # hoist the token array so the normalize+split chain runs once per row,
    # not once per marker expression (12x) — values identical by construction
    from infoscience_imports_spark.operators.textops import lang_id_from_tokens, tokens_col

    return docs.withColumn("_toks", tokens_col(F.col("text"))).select(
        "doc_id", lang_id_from_tokens(F.col("_toks")).alias("lang_pred")
    )


def q_text_quality(spark, sf_dir):
    docs = _t_par(spark, sf_dir, "documents", key="doc_id")
    return quality_features(docs).select(
        "doc_id",
        "n_tokens",
        F.round("avg_token_len", 6).alias("avg_token_len"),
        F.round("alpha_ratio", 6).alias("alpha_ratio"),
        F.round("punct_ratio", 6).alias("punct_ratio"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
        "quality_score",
    )


def q_text_fingerprints(spark, sf_dir):
    docs = _t_par(spark, sf_dir, "documents", key="doc_id")
    return winnowing_fingerprints(docs).select("doc_id", "n_fingerprints")


def q_text_topgrams(spark, sf_dir):
    """Corpus n-gram document-frequency report (operators/textops.py
    top_ngrams): top-100 5-grams by df, tie-broken on the gram string.
    Pure Column expressions; the top-k runs as TakeOrdered (per-partition
    heaps + k-row driver merge), never a global sort."""
    from infoscience_imports_spark.operators.textops import top_ngrams

    docs = _t_par(spark, sf_dir, "documents", key="doc_id")
    return top_ngrams(docs, n=5, k=100)


def q_ann_cosine_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk(queries, emb, k=3)


def q_embedding_neardup(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return similar_pairs(emb, threshold=0.45)


def q_ann_signlsh(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ann_signlsh_topk(queries, emb, dim=64, k=3, bits=6, probe_radius=2)


def q_ann_ivf(spark, sf_dir):
    """IVF coarse-quantizer ANN: adaptive cell count from the measured
    corpus count (clamp(isqrt(n), 16, 4096)), exemplar centers drawn by a
    seeded LCG permutation of vec_id, nearest-cell assignment in one tiled
    Arrow kernel, nprobe=4 probing, exact re-rank. The DuckDB oracle
    recomputes the cell-count formula and the LCG sample from the table and
    replicates assignment/probe/re-rank — an algorithm twin."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ann_ivf_topk(queries, emb, k=3, nprobe=4)


def q_ann_ivf2(spark, sf_dir):
    """Two-level IVF ANN (growth path past the flat 4096-cell cap,
    operators/similarity.py ann_ivf2_topk): level-1 = seeded spherical
    k-means over the level-2 LCG exemplars, O(sqrt(n_cells)) per-vector
    scan. No oracle_sql twin: the driver-side k-means is deterministic but
    not SQL-expressible — the driver records the weaker rows-only check;
    recall and the collect guard are pinned by pytest
    (tests/test_similarity.py)."""
    from infoscience_imports_spark.operators.similarity import ann_ivf2_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ann_ivf2_topk(queries, emb, k=3, l1_cells=8, nprobe_l1=4, nprobe=8)


def q_embedding_neardup_lsh(spark, sf_dir):
    """Sub-quadratic near-dup path: sign-LSH band candidates + exact re-rank.

    32 bands x 2 bits: miss prob < 2e-8 at sim 0.50, so the output equals
    the exact all-pairs result on this data (the oracle is the brute-force
    SQL). Round 6: the operator now measures band-bucket density first —
    2-bit bands have only 4 buckets, so the banded self-join is
    near-quadratic WITH overhead at any corpus size (measured: ~1.6e9
    candidate rows at 50k docs' embeddings, a disk-filling spill) — and
    takes the exact tiled-matmul path (the same kernel as
    ``embedding_neardup``) when collisions rival brute force, which meets
    the same exact-re-rank output contract."""
    emb = _t(spark, sf_dir, "embeddings")
    return similar_pairs_lsh(
        emb, threshold=0.50, dim=64, bands=32, rows_per_band=2
    )


def q_group_merge_docs(spark, sf_dir):
    """Keep-best per exact-dup group: min source rank, tie-break min doc_id
    (the reference's priority-winner rule, deduplicator.py:73-87)."""
    docs = _doc_norm(_t(spark, sf_dir, "documents"))
    rank = F.nullif(F.regexp_extract("source", r"(\d+)$", 1), F.lit("")).cast("int")
    w = Window.partitionBy(_prefix_key()).orderBy(rank.asc(), F.col("doc_id").asc())
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("doc_id", "source", "lang")
    )


def q_doc_rollup(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.rollup("lang", "source")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("sum_chars"))
        .select(
            F.coalesce("lang", F.lit("__total__")).alias("lang"),
            F.coalesce("source", F.lit("__total__")).alias("source"),
            "n",
            "sum_chars",
        )
    )


def q1_pricing_summary(spark, sf_dir):
    # NOT repartitioned: a quiet-window A/B showed a marginal win (1.67 vs
    # 1.86 s) but the canonical bench protocol read 3.67 s WITH the
    # repartition vs 2.08 s without (round-5 record) — the ~150 MB exchange
    # of 6M wide rows loses badly under contention for a ~6-way -> 32-way
    # spread of the partial aggregation. The BigDecimal sums stay the
    # per-row cost; see OPTIMIZATION_r06.md "deliberately left alone".
    li = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(12,2)")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    tax = F.col("l_tax").cast("decimal(4,2)")
    one = F.lit(1).cast("decimal(4,2)")
    out = (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (one - disc)).cast("double").alias("sum_disc_price"),
            F.sum(price * (one - disc) * (one + tax)).cast("double").alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .withColumn("avg_qty", F.col("sum_qty") / F.col("count_order"))
        .withColumn("avg_price", F.col("sum_base_price") / F.col("count_order"))
    )
    return out.select(
        "l_returnflag", "l_linestatus", "sum_qty", "sum_base_price",
        "sum_disc_price", "sum_charge", "avg_qty", "avg_price", "count_order",
    )


def q3_shipping_priority(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    li = _t(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    one = F.lit(1).cast("decimal(4,2)")
    # pin the build side of the lineitem join: without the hint the planner's
    # size estimate flips to broadcasting the 3-column projection of the FACT
    # table (6M rows at sf1.0 — a multi-second hashed-relation build, and the
    # anti-scaling side at any larger input); the filtered cust⋈orders side
    # is the dimension-bounded one (guide §3.1: choose the build side
    # deliberately, estimates are often wrong after filters)
    return (
        F.broadcast(cust)
        .join(orders, cust.c_custkey == orders.o_custkey)
        .hint("broadcast")
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(price * (one - disc)).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select("o_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"), "o_orderpriority", "revenue")
    )


def q_top_orders_per_cust(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rank")
    )


def q_cust_semi_join(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi").select(
        "c_custkey", "c_mktsegment"
    )


def q_cust_anti_join(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_acctbal"
    )


def q_orders_running_window(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.count(F.lit(1)).over(w).alias("cum_orders"),
        F.max("o_totalprice").over(w).alias("max_price_so_far"),
    )


def q_monthly_order_stats(spark, sf_dir):
    # the per-row date_format + decimal work otherwise runs on the 2-row-
    # group scan's 2 tasks (guide §2.5); hash repartition on the near-unique
    # order key spreads it, gated off at production input sizes
    orders = _t_par(spark, sf_dir, "orders", key="o_orderkey")
    price = F.col("o_totalprice").cast("decimal(14,2)")
    return (
        orders.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
            F.sum(price).cast("double").alias("sum_price"),
        )
    )


def q_nation_rollup(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    joined = cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey).join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .select(
            F.coalesce("r_name", F.lit("__total__")).alias("r_name"),
            F.coalesce("n_name", F.lit("__total__")).alias("n_name"),
            "n_customers",
        )
    )


def q_union_except_nations(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    supp = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    nation = _t(spark, sf_dir, "nation")
    region0 = nation.filter(F.col("n_regionkey") == 0).select(F.col("n_nationkey").alias("nk"))
    return cust.union(supp).distinct().exceptAll(region0.distinct()).select("nk")


def q_argmax_latest_order(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        orders.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("latest_orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("latest_orderdate"),
        )
    )


def q_events_sessionize(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    gap = F.unix_micros(F.col("ts").cast("timestamp")) - F.lag(F.unix_micros(F.col("ts").cast("timestamp"))).over(w)
    with_flag = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 1800 * 1_000_000), F.lit(1)).otherwise(F.lit(0)),
    )
    return with_flag.groupBy("user_id").agg(
        F.sum("new_session").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


def q_events_hourly(spark, sf_dir):
    # NOT repartitioned: unlike the JSON queries, the per-row work here
    # (one date_format + decimal partial agg) is too cheap to pay a 1M-row
    # exchange for parallelism — interleaved A/B read 1.33 s repartitioned
    # vs 0.90 s on the straight single-task scan
    ev = _t(spark, sf_dir, "events")
    val = F.col("value").cast("decimal(10,2)")
    return (
        ev.groupBy(
            F.date_format("ts", "yyyy-MM-dd HH").alias("hour"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"), F.sum(val).cast("double").alias("sum_value"))
    )


def q_events_json(spark, sf_dir):
    ev = _t_par(spark, sf_dir, "events", key="event_id")
    # hoist the JSON extraction: referencing the expression in the group key
    # AND both aggregates parsed every props string 3x per row (no
    # cross-expression CSE in Catalyst)
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select(k.alias("_k"))
        .groupBy(F.pmod(F.col("_k"), F.lit(10)).alias("k_mod"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("_k").alias("min_k"),
            F.max("_k").alias("max_k"),
        )
    )


def q_events_json_variants(spark, sf_dir):
    """F19/F20: schema-of-variants from_json + coalesce-across-paths search.

    Two JSON payload shapes are synthesized deterministically (event parity):
    v0 nests meta at the top, v1 nests k one level deeper — the reference's
    str-or-dict query dispatch (harvester.py:390-410) and recursive
    first-non-null search (orcid_client.py:101-152). One from_json with the
    union schema parses both; coalesce over the variant paths recovers the
    fields without per-row Python."""
    ev = _t_par(spark, sf_dir, "events", key="event_id")
    k = F.get_json_object("props", "$.k").cast("int")
    js = F.when(
        F.pmod("event_id", F.lit(2)) == 0,
        F.format_string('{"k": %s, "meta": {"type": "%s"}}', k, F.col("event_type")),
    ).otherwise(
        F.format_string('{"payload": {"k": %s}, "tags": ["%s"]}', k, F.upper("event_type"))
    )
    schema = "k int, meta struct<type:string>, payload struct<k:int>, tags array<string>"
    # hoist the parsed struct into its own projection: k_any and label
    # referenced 3 paths of ``p``, and inlined each re-ran from_json (which
    # itself embeds the get_json_object + format_string chain) per
    # reference — ~5 full parses per row before the hoist
    p = F.from_json(js, schema)
    parsed = ev.select(p.alias("_p"))
    k_any = F.coalesce(F.col("_p.k"), F.col("_p.payload.k"))
    label = F.coalesce(F.col("_p.meta.type"), F.try_element_at(F.col("_p.tags"), F.lit(1)))
    return (
        parsed.select(F.pmod(k_any, F.lit(10)).alias("k_mod"), label.alias("label"))
        .groupBy("k_mod", "label")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_events_asof_last_error(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_err = F.max(
        F.when(F.col("event_type") == "error", F.unix_micros(F.col("ts").cast("timestamp")))
    ).over(w)
    return (
        ev.withColumn("last_error_us", last_err)
        .filter(F.col("event_type") == "click")
        .select("event_id", "user_id", "last_error_us")
    )


def q_orders_pagination(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .offset(10)
        .limit(20)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )



def q_family_agg_orders(spark, sf_dir):
    """A10 family aggregation pattern: per order, latest line wins scalars,
    multi-valued fields union-dedup-sorted (epo_ops_client.py:775-897)."""
    # size-gated: the single-file lineitem scan yields ~6 tasks (row-group
    # bound) for the struct/array-heavy partial aggregation
    li = _t_par(spark, sf_dir, "lineitem", key="l_orderkey").withColumn(
        "pk", F.array("l_partkey")
    )
    fam = aggregate_families(
        li,
        family_col="l_orderkey",
        recency_col="l_shipdate",
        scalar_cols=("l_returnflag", "l_linestatus"),
        multi_cols=("pk",),
        id_col="l_linenumber",
    )
    # array columns are emitted as deterministic CSV strings (sorted-distinct
    # upstream) so the harness canonicalizer can lexsort rows — list-typed
    # cells are unhashable in its pandas sort (round-1 CORRECTNESS err)
    as_csv = lambda c: F.concat_ws(",", F.transform(F.col(c), lambda x: x.cast("string")))  # noqa: E731
    return fam.select(
        "l_orderkey",
        F.col("l_returnflag").alias("win_returnflag"),
        F.col("l_linestatus").alias("win_linestatus"),
        as_csv("pk").alias("part_keys"),
        as_csv("members_internal_ids").alias("line_numbers"),
        F.col("family_size").alias("n_lines"),
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("last_ship"),
    )


def q_authors_nested_exists(spark, sf_dir):
    """P3 over ArrayType(StructType): build a seq-ordered nested line array
    per order, keep orders where ANY nested struct matches a regex predicate
    (harvester.py:490-509 exists-over-authors), output scalars."""
    from infoscience_imports_spark.operators.authors import (
        build_author_array,
        filter_exists_author,
    )

    li = _t_par(spark, sf_dir, "lineitem", key="l_orderkey")
    nested = build_author_array(
        li, group_col="l_orderkey",
        struct_cols=("l_returnflag", "l_linestatus"),
        order_col="l_linenumber",
    )
    kept = filter_exists_author(
        nested, lambda a: a["l_returnflag"].rlike("^R$")
    )
    return kept.select(
        "l_orderkey",
        F.size("authors").alias("n_lines"),
        F.element_at("authors", 1)["l_returnflag"].alias("first_flag"),
    )


def q_authors_explode_dedup(spark, sf_dir):
    """J1+A3 over the nested array: explode the struct array back to rows,
    dedup by a struct-field subset (deduplicator.py:236-250), aggregate."""
    from infoscience_imports_spark.operators.authors import (
        build_author_array,
        dedup_author_rows,
        explode_authors,
    )

    li = _t_par(spark, sf_dir, "lineitem", key="l_orderkey")
    nested = build_author_array(
        li, group_col="l_orderkey",
        struct_cols=("l_returnflag", "l_linestatus"),
        order_col="l_linenumber",
    )
    rows = explode_authors(nested, id_col="l_orderkey")
    deduped = dedup_author_rows(rows, ("l_orderkey", "l_returnflag", "l_linestatus"))
    return deduped.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n")
    )


def q_names_fold_diacritics(spark, sf_dir):
    """F5 diacritic fold, cross-engine checked: both engines construct the
    SAME accented string from customer names (unicode-aware translate), then
    Spark folds with the NFD+strip-combining Arrow kernel
    (functions/text.py fold_diacritics_col) and DuckDB with strip_accents —
    an independent-engine run of the same fold semantics (reference:
    enricher.py name normalization / unidecode)."""
    from infoscience_imports_spark.functions.text import fold_diacritics_col

    cust = _t(spark, sf_dir, "customer")
    accented = F.translate(F.col("c_name"), "aeiou", "áéíóü")
    return cust.select(
        "c_custkey",
        accented.alias("accented"),
        fold_diacritics_col(accented).alias("folded"),
    )


def q_orders_partkey_overlap(spark, sf_dir):
    """P5: literal id-list array-containment predicate. The reference keeps
    records whose affiliation-ID list intersects a configured institution
    list (enricher.py:120-144; id list config.py:57-80); here per-order
    part-key arrays are kept when ``arrays_overlap`` with a literal hot
    list. The VALUES-side is a pure literal array (no join, no shuffle) and
    the predicate is JVM-side."""
    hot = [1, 5, 22, 77, 123]
    li = _t_par(spark, sf_dir, "lineitem", key="l_orderkey")
    per_order = li.groupBy("l_orderkey").agg(
        F.array_sort(F.array_distinct(F.collect_list("l_partkey"))).alias("pks")
    )
    return per_order.filter(
        F.arrays_overlap("pks", F.array(*[F.lit(x) for x in hot]))
    ).select(
        "l_orderkey",
        F.size("pks").alias("n_parts"),
        F.concat_ws(",", F.transform("pks", lambda x: x.cast("string"))).alias("part_keys"),
    )


def q_upsert_customers(spark, sf_dir):
    """A12/S10 upsert pattern: two order batches merged with counter +
    COALESCE semantics (pipeline_db.py:513-539)."""
    orders = _t(spark, sf_dir, "orders")
    cut = F.lit("1999-01-01").cast("timestamp")
    b1 = orders.filter(F.col("o_orderdate") < cut).select(
        F.col("o_custkey").alias("cust"), F.col("o_orderpriority").alias("prio")
    )
    b2 = orders.filter(F.col("o_orderdate") >= cut).select(
        F.col("o_custkey").alias("cust"), F.col("o_orderpriority").alias("prio")
    )
    t1 = F.lit("2026-01-01 00:00:00").cast("timestamp")
    t2 = F.lit("2026-02-01 00:00:00").cast("timestamp")
    m1 = upsert(None, b1, "cust", ("prio",), now_col=t1)
    m2 = upsert(m1, b2, "cust", ("prio",), now_col=t2)
    return m2.select(
        "cust",
        "prio",
        "seen_count",
        F.date_format("first_seen", "yyyy-MM-dd").alias("first_seen"),
        F.date_format("last_seen", "yyyy-MM-dd").alias("last_seen"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "dedup_exact_groups": q_dedup_exact_groups,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "decontaminate_docs": q_decontaminate_docs,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_clusters": q_dedup_clusters,
        "dedup_simhash_title": q_dedup_simhash_title,
        "containment_substring": q_containment_substring,
        "url_canonicalize": q_url_canonicalize,
        "text_token_stats": q_text_token_stats,
        "text_lang_id": q_text_lang_id,
        "text_quality": q_text_quality,
        "text_fingerprints": q_text_fingerprints,
        "text_topgrams": q_text_topgrams,
        "ann_cosine_topk": q_ann_cosine_topk,
        "embedding_neardup": q_embedding_neardup,
        "embedding_neardup_lsh": q_embedding_neardup_lsh,
        "ann_signlsh": q_ann_signlsh,
        "ann_ivf": q_ann_ivf,
        "ann_ivf2": q_ann_ivf2,
        "group_merge_docs": q_group_merge_docs,
        "doc_rollup": q_doc_rollup,
        "q1_pricing_summary": q1_pricing_summary,
        "q3_shipping_priority": q3_shipping_priority,
        "top_orders_per_cust": q_top_orders_per_cust,
        "cust_semi_join": q_cust_semi_join,
        "cust_anti_join": q_cust_anti_join,
        "orders_running_window": q_orders_running_window,
        "monthly_order_stats": q_monthly_order_stats,
        "nation_rollup": q_nation_rollup,
        "union_except_nations": q_union_except_nations,
        "argmax_latest_order": q_argmax_latest_order,
        "events_sessionize": q_events_sessionize,
        "events_hourly": q_events_hourly,
        "events_json": q_events_json,
        "events_json_variants": q_events_json_variants,
        "events_asof_last_error": q_events_asof_last_error,
        "orders_pagination": q_orders_pagination,
        "family_agg_orders": q_family_agg_orders,
        "authors_nested_exists": q_authors_nested_exists,
        "authors_explode_dedup": q_authors_explode_dedup,
        "orders_partkey_overlap": q_orders_partkey_overlap,
        "names_fold_diacritics": q_names_fold_diacritics,
        "upsert_customers": q_upsert_customers,
    }


# ---------------------------------------------------------------------------
# oracles (DuckDB SQL on pre-registered views)
# ---------------------------------------------------------------------------


def _ann_signlsh_sql(dim: int = 64, bits: int = 6, k: int = 3, seed: int = 7, radius: int = 2) -> str:
    """Algorithm twin of q_ann_signlsh: the same seeded hyperplanes, bucket
    bits, probe masks and exact re-rank, evaluated by DuckDB — an
    independent-engine check of the multi-probe LSH itself, not just of a
    brute-force equivalent (which would only match if recall were 1.0)."""
    planes = hyperplanes(dim, bits, seed)

    def bucket_expr(vec: str) -> str:
        terms = []
        for i, p in enumerate(planes):
            lit = "[" + ", ".join(repr(float(x)) for x in p) + "]"
            terms.append(
                f"(CASE WHEN list_inner_product({vec}, {lit}) >= 0 THEN {1 << i} ELSE 0 END)"
            )
        return " + ".join(terms)

    masks = ", ".join(str(m) for m in probe_masks(bits, radius))
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv,
         {bucket_expr('CAST(embedding AS DOUBLE[])')} AS qb
  FROM embeddings WHERE vec_id < 10),
c AS (
  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv,
         {bucket_expr('CAST(embedding AS DOUBLE[])')} AS cb
  FROM embeddings),
probes AS (
  SELECT query_id, qv, xor(qb, m.mask) AS pb
  FROM q, (SELECT unnest([{masks}]) AS mask) m),
scored AS (
  SELECT query_id, neighbor_id, list_cosine_similarity(qv, cv) AS sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY list_cosine_similarity(qv, cv) DESC,
                                     neighbor_id ASC) AS rank
  FROM probes JOIN c ON c.cb = probes.pb AND c.neighbor_id != probes.query_id)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, round(sim, 6) AS sim
FROM scored WHERE rank <= {k}
"""


def _lang_sql() -> str:
    toks = _TOKS_SQL.format(col="text")
    score = lambda ms: " + ".join(  # noqa: E731
        f"len(list_filter(t, x -> x = '{m}'))" for m in ms
    )
    cases = []
    for lang, markers in LANG_MARKERS.items():
        cases.append((lang, score(markers)))
    sel = ", ".join(f"({expr}) AS s_{lang}" for lang, expr in cases)
    m = "greatest(" + ", ".join(f"s_{lang}" for lang, _ in cases) + ")"
    when = " ".join(f"WHEN s_{lang} = m THEN '{lang}'" for lang, _ in cases)
    return f"""
WITH toks AS (SELECT doc_id, {toks} AS t FROM documents),
scored AS (SELECT doc_id, {sel} FROM toks),
mx AS (SELECT *, {m} AS m FROM scored)
SELECT doc_id, CASE WHEN m <= 0 THEN 'und' {when} END AS lang_pred FROM mx
"""


def _quality_sql() -> str:
    toks = _TOKS_SQL.format(col="text")
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    return f"""
WITH base AS (
  SELECT doc_id, text, {toks} AS t FROM documents
), feat AS (
  SELECT doc_id,
    CAST(len(t) AS INT) AS n_tokens,
    CAST(len(t) AS DOUBLE) AS n_tok,
    CAST(length(text) AS DOUBLE) AS n_chars,
    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS n_alpha,
    CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) AS n_punct,
    CAST(len(list_filter(t, x -> x IN ({stop_list}))) AS DOUBLE) AS n_stop
  FROM base
)
SELECT doc_id, n_tokens,
  round(CASE WHEN n_tok > 0 THEN n_alpha / n_tok ELSE 0.0 END, 6) AS avg_token_len,
  round(CASE WHEN n_chars > 0 THEN n_alpha / n_chars ELSE 0.0 END, 6) AS alpha_ratio,
  round(CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END, 6) AS punct_ratio,
  round(CASE WHEN n_tok > 0 THEN n_stop / n_tok ELSE 0.0 END, 6) AS stopword_ratio,
  round(least(n_tokens / 100.0, 1.0) * 0.4
        + (CASE WHEN n_chars > 0 THEN n_alpha / n_chars ELSE 0.0 END) * 0.4
        + (1.0 - least((CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END) * 5.0, 1.0)) * 0.2,
        6) AS quality_score
FROM feat
"""


def oracle_sql() -> dict[str, str]:
    norm = _NORM_SQL.format(col="text")
    jac_select = (
        "SELECT id1, id2, round(j, 6) AS jaccard FROM jac WHERE j >= 0.70"
    )
    return {
        "dedup_exact_groups": f"""
            WITH keyed AS (
              SELECT doc_id, {_PREFIX_KEY_SQL} AS k FROM documents),
            g AS (
              SELECT doc_id,
                     min(doc_id) OVER (PARTITION BY k) AS rep_id,
                     count(*) OVER (PARTITION BY k) AS group_size
              FROM keyed)
            SELECT doc_id, rep_id, CAST(group_size AS BIGINT) AS group_size
            FROM g WHERE group_size > 1
        """,
        "dedup_ngram_jaccard": f"WITH {_SHINGLE_CTE} {jac_select}",
        # string 5-grams stand in for the engine's hashed 5-grams: distinct
        # counts agree modulo the documented 2^-63 hash-collision risk (same
        # acceptance as the jaccard oracle). % == pmod here: doc_id >= 0.
        "decontaminate_docs": f"""
            WITH toks AS (
              SELECT doc_id, {_TOKS_SQL.format(col='text')} AS t FROM documents),
            sh AS (
              SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 3),
                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4])) AS s
              FROM toks WHERE len(t) >= 5),
            probe AS (SELECT doc_id AS probe_id, s FROM sh WHERE doc_id % 37 = 0),
            corp AS (SELECT doc_id, s FROM sh WHERE doc_id % 37 <> 0),
            pp AS (SELECT probe_id, len(s) AS probe_n, unnest(s) AS g FROM probe),
            cp AS (SELECT doc_id, unnest(s) AS g FROM corp),
            h AS (
              SELECT doc_id, probe_id, probe_n, count(*) AS hits
              FROM cp JOIN pp USING (g) GROUP BY 1, 2, 3)
            SELECT doc_id, probe_id, hits, probe_n,
                   round(hits * 1.0 / probe_n, 6) AS frac
            FROM h WHERE hits * 2 >= probe_n
        """,
        "dedup_simhash_title": f"""
            WITH toks AS (
              SELECT doc_id, {_TOKS_SQL.format(col='text')} AS t FROM documents),
            pf AS (SELECT doc_id, list_sort(t[1:12]) AS ps FROM toks)
            SELECT a.doc_id AS id1, b.doc_id AS id2,
                   CAST(len(a.ps) AS INT) AS n_title_tokens
            FROM pf a JOIN pf b ON a.doc_id < b.doc_id AND a.ps = b.ps
        """,
        "dedup_minhash_lsh": f"WITH {_SHINGLE_CTE} {jac_select}",
        # brute-force twin of the sketch-candidate containment pass: full
        # shingle containment + exact substring on the SAME frozen
        # normalization; len(a.s) >= 6 mirrors the bottomk_min_match sketch
        # floor (a doc with fewer shingles can never clear the candidate
        # gate, by contract)
        "containment_substring": f"""
            WITH t AS (
              SELECT doc_id, {_NORM_SQL.format(col='text')} AS tn,
                     {_TOKS_SQL.format(col='text')} AS tk
              FROM documents),
            sh AS (
              SELECT doc_id, tn,
                     list_distinct(list_transform(range(1, len(tk) - 3),
                       i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' '
                            || tk[i+3] || ' ' || tk[i+4])) AS s
              FROM t WHERE len(tk) >= 5)
            SELECT least(a.doc_id, b.doc_id) AS id1,
                   greatest(a.doc_id, b.doc_id) AS id2,
                   round(len(list_intersect(a.s, b.s)) * 1.0 / len(a.s), 6)
                     AS containment
            FROM sh a JOIN sh b
              ON a.doc_id <> b.doc_id
             AND len(b.s) > len(a.s)
             AND len(a.s) >= 6
            WHERE len(list_intersect(a.s, b.s)) = len(a.s)
              AND position(a.tn IN b.tn) > 0
        """,
        # analytic expectation (not an implementation twin): the messy URL
        # is built by the same expression as the Spark side, but the
        # canonical result is spelled out directly per case
        "url_canonicalize": """
            SELECT doc_id,
              CASE CAST(doc_id % 4 AS INT)
                WHEN 0 THEN 'http://' || source || '.example.com/a/' || CAST(doc_id AS VARCHAR)
                            || '?a=' || CAST(doc_id % 7 AS VARCHAR) || '&z=1'
                WHEN 1 THEN 'https://sub.' || source || '.example.co.uk/path/' || CAST(doc_id AS VARCHAR)
                WHEN 2 THEN 'https://' || source || '.example.com'
                ELSE 'https://' || source || '.example.com:8080/b?q=' || CAST(doc_id % 5 AS VARCHAR)
              END AS url_canon,
              CASE CAST(doc_id % 4 AS INT)
                WHEN 1 THEN 'sub.' || source || '.example.co.uk'
                ELSE source || '.example.com'
              END AS host,
              CASE CAST(doc_id % 4 AS INT)
                WHEN 1 THEN 'example.co.uk'
                ELSE 'example.com'
              END AS reg_domain
            FROM documents
        """,
        "dedup_clusters": f"""
            -- min-label propagation unrolled (planted components have tiny
            -- diameter; 4 rounds is 2x headroom over the largest chain)
            WITH {_SHINGLE_CTE},
            edges AS (SELECT id1, id2 FROM jac WHERE j >= 0.70),
            sym AS (SELECT id1 AS u, id2 AS v FROM edges
                    UNION ALL SELECT id2, id1 FROM edges),
            l0 AS (SELECT DISTINCT u AS v, u AS l FROM (SELECT u FROM sym UNION SELECT v FROM sym)),
            l1 AS (SELECT l0.v, least(l0.l, coalesce(min(n.l), l0.l)) AS l
                   FROM l0 LEFT JOIN sym s ON s.u = l0.v LEFT JOIN l0 n ON n.v = s.v
                   GROUP BY l0.v, l0.l),
            l2 AS (SELECT l1.v, least(l1.l, coalesce(min(n.l), l1.l)) AS l
                   FROM l1 LEFT JOIN sym s ON s.u = l1.v LEFT JOIN l1 n ON n.v = s.v
                   GROUP BY l1.v, l1.l),
            l3 AS (SELECT l2.v, least(l2.l, coalesce(min(n.l), l2.l)) AS l
                   FROM l2 LEFT JOIN sym s ON s.u = l2.v LEFT JOIN l2 n ON n.v = s.v
                   GROUP BY l2.v, l2.l),
            l4 AS (SELECT l3.v, least(l3.l, coalesce(min(n.l), l3.l)) AS l
                   FROM l3 LEFT JOIN sym s ON s.u = l3.v LEFT JOIN l3 n ON n.v = s.v
                   GROUP BY l3.v, l3.l)
            SELECT v AS doc_id, l AS cluster_id FROM l4
        """,
        "text_token_stats": f"""
            SELECT doc_id,
                   CAST(len({_TOKS_SQL.format(col='text')}) AS INT) AS n_tokens,
                   CAST(len(regexp_extract_all(text, '{TOKEN_PATTERN}')) AS INT) AS n_bpe_tokens,
                   CAST(length(text) AS INT) AS len_chars
            FROM documents
        """,
        "text_lang_id": _lang_sql(),
        "text_topgrams": f"""
            WITH toks AS (
              SELECT doc_id, {_TOKS_SQL.format(col='text')} AS t FROM documents),
            sh AS (
              SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 3),
                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4])) AS s
              FROM toks WHERE len(t) >= 5),
            p AS (SELECT doc_id, unnest(s) AS gram FROM sh)
            SELECT gram, count(*) AS df
            FROM p GROUP BY 1 ORDER BY df DESC, gram ASC LIMIT 100
        """,
        "text_fingerprints": f"""
            WITH toks AS (
              SELECT doc_id, {_TOKS_SQL.format(col='text')} AS t FROM documents),
            tok AS (
              SELECT doc_id, unnest(t) AS tokstr,
                     unnest(range(0, len(t))) AS pos, len(t) AS n
              FROM toks),
            h AS (
              SELECT doc_id, pos, n,
                     list_reduce(
                       list_prepend(CAST(7 AS BIGINT),
                         list_transform(range(1, length(tokstr) + 1),
                                        i -> CAST(unicode(tokstr[i]) AS BIGINT))),
                       (acc, c) -> (acc * 31 + c) % 1000003) AS h
              FROM tok),
            grams AS (
              SELECT doc_id, pos, n,
                     sum(h) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING)
                       % 2147483648 AS gram_h
              FROM h),
            fullg AS (SELECT * FROM grams WHERE pos <= n - 5),
            sel AS (
              SELECT doc_id,
                     min(gram_h) OVER (PARTITION BY doc_id ORDER BY pos
                                       ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
              FROM fullg)
            SELECT doc_id, CAST(count(DISTINCT fp) AS INT) AS n_fingerprints
            FROM sel GROUP BY doc_id
        """,
        "text_quality": _quality_sql(),
        "ann_cosine_topk": """
            WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                       FROM embeddings WHERE vec_id < 10),
            s AS (
              SELECT q.query_id, e.vec_id AS neighbor_id,
                     list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])) AS sim,
                     row_number() OVER (PARTITION BY q.query_id
                                        ORDER BY list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])) DESC,
                                                 e.vec_id ASC) AS rank
              FROM q JOIN embeddings e ON e.vec_id != q.query_id)
            SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank FROM s WHERE rank <= 3
        """,
        "embedding_neardup": """
            SELECT a.vec_id AS id1, b.vec_id AS id2,
                   round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                CAST(b.embedding AS DOUBLE[])), 6) AS sim
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[])) >= 0.45
        """,
        "embedding_neardup_lsh": """
            SELECT a.vec_id AS id1, b.vec_id AS id2,
                   round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                CAST(b.embedding AS DOUBLE[])), 6) AS sim
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[])) >= 0.50
        """,
        "ann_signlsh": _ann_signlsh_sql(),
        "ann_ivf": """
            WITH nrows AS (SELECT COUNT(*) AS n FROM embeddings),
            -- guarded integer sqrt: FLOOR(SQRT()) is FP and can be off by
            -- one near large perfect squares; one-step correction mirrors
            -- Python's math.isqrt exactly for any bigint count
            s0 AS (SELECT n, CAST(FLOOR(SQRT(n)) AS BIGINT) AS s FROM nrows),
            cells AS (
              SELECT GREATEST(16, LEAST(4096,
                       CASE WHEN s * s > n THEN s - 1
                            WHEN (s + 1) * (s + 1) <= n THEN s + 1
                            ELSE s END)) AS k
              FROM s0),
            cents AS (
              SELECT rn - 1 AS cid, cv FROM (
                SELECT row_number() OVER (
                         -- (((id % m) + m) % m) emulates Spark's pmod for
                         -- negative ids (DuckDB % is sign-preserving); the
                         -- wrapped value is < 1000003 so the outer modulus
                         -- operand stays positive and % == pmod there
                         ORDER BY ((((vec_id % 1000003) + 1000003) % 1000003)
                                   * 1103515245 + 12345) % 2147483647,
                                  vec_id) AS rn,
                       CAST(embedding AS DOUBLE[]) AS cv
                FROM embeddings)
              WHERE rn <= (SELECT k FROM cells)),
            assigned AS (
              SELECT vec_id, cell FROM (
                SELECT e.vec_id, c.cid AS cell,
                       row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cv) DESC,
                                  c.cid ASC) AS rn
                FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
            qprobes AS (
              SELECT query_id, qv, cell FROM (
                SELECT e.vec_id AS query_id, CAST(e.embedding AS DOUBLE[]) AS qv,
                       c.cid AS cell,
                       row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cv) DESC,
                                  c.cid ASC) AS rn
                FROM embeddings e CROSS JOIN cents c WHERE e.vec_id < 10) WHERE rn <= 4),
            scored AS (
              SELECT q.query_id, a.vec_id AS neighbor_id,
                     list_cosine_similarity(q.qv, CAST(e2.embedding AS DOUBLE[])) AS sim,
                     row_number() OVER (PARTITION BY q.query_id
                       ORDER BY list_cosine_similarity(q.qv, CAST(e2.embedding AS DOUBLE[])) DESC,
                                a.vec_id ASC) AS rank
              FROM qprobes q
              JOIN assigned a ON a.cell = q.cell AND a.vec_id != q.query_id
              JOIN embeddings e2 ON e2.vec_id = a.vec_id)
            SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, round(sim, 6) AS sim
            FROM scored WHERE rank <= 3
        """,
        "group_merge_docs": f"""
            WITH ranked AS (
              SELECT doc_id, source, lang,
                     row_number() OVER (
                       PARTITION BY {_PREFIX_KEY_SQL}
                       ORDER BY CAST(regexp_extract(source, '(\\d+)$', 1) AS INT) ASC,
                                doc_id ASC) AS rn
              FROM documents)
            SELECT doc_id, source, lang FROM ranked WHERE rn = 1
        """,
        "doc_rollup": """
            SELECT coalesce(lang, '__total__') AS lang,
                   coalesce(source, '__total__') AS source,
                   count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
            FROM documents GROUP BY ROLLUP (lang, source)
        """,
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) * (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
                   count(*) AS count_order,
                   CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_qty,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_price
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '2001-09-01'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q3_shipping_priority": """
            SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
            FROM customer JOIN orders ON c_custkey = o_custkey
                          JOIN lineitem ON o_orderkey = l_orderkey
            WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01'
            GROUP BY o_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, o_orderkey ASC
            LIMIT 10
        """,
        "top_orders_per_cust": """
            WITH r AS (
              SELECT o_custkey, o_orderkey, o_totalprice,
                     row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
              FROM orders)
            SELECT o_custkey, o_orderkey, o_totalprice, CAST(rank AS INT) AS rank
            FROM r WHERE rank <= 3
        """,
        "cust_semi_join": """
            SELECT c_custkey, c_mktsegment FROM customer c
            WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        """,
        "cust_anti_join": """
            SELECT c_custkey, c_acctbal FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        """,
        "orders_running_window": """
            SELECT o_orderkey, o_custkey,
                   count(*) OVER w AS cum_orders,
                   max(o_totalprice) OVER w AS max_price_so_far
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """,
        "monthly_order_stats": """
            SELECT strftime(o_orderdate, '%Y-%m') AS month,
                   count(*) AS n_orders,
                   count(DISTINCT o_custkey) AS n_customers,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_price
            FROM orders GROUP BY 1
        """,
        "nation_rollup": """
            SELECT coalesce(r_name, '__total__') AS r_name,
                   coalesce(n_name, '__total__') AS n_name,
                   count(*) AS n_customers
            FROM customer JOIN nation ON c_nationkey = n_nationkey
                          JOIN region ON n_regionkey = r_regionkey
            GROUP BY ROLLUP (r_name, n_name)
        """,
        "union_except_nations": """
            SELECT nk FROM (
              SELECT c_nationkey AS nk FROM customer
              UNION SELECT s_nationkey FROM supplier)
            EXCEPT
            SELECT n_nationkey AS nk FROM nation WHERE n_regionkey = 0
        """,
        "argmax_latest_order": """
            WITH r AS (
              SELECT o_custkey, o_orderkey, o_orderdate,
                     row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
              FROM orders)
            SELECT o_custkey, o_orderkey AS latest_orderkey,
                   strftime(o_orderdate, '%Y-%m-%d') AS latest_orderdate
            FROM r WHERE rn = 1
        """,
        "events_sessionize": """
            WITH flagged AS (
              SELECT user_id,
                     CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                               OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800 * 1000000
                          THEN 1 ELSE 0 END AS new_session
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC))
            SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events
            FROM flagged GROUP BY user_id
        """,
        "events_hourly": """
            SELECT strftime(ts, '%Y-%m-%d %H') AS hour, event_type,
                   count(*) AS n,
                   CAST(sum(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "events_json": """
            SELECT CAST(CAST(json_extract_string(props, '$.k') AS INT) % 10 AS INT) AS k_mod,
                   count(*) AS n,
                   min(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
                   max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
            FROM events GROUP BY 1
        """,
        "events_json_variants": """
            -- independent check: computes the variant dispatch directly from
            -- the source columns instead of round-tripping through JSON
            SELECT CAST(CAST(json_extract_string(props, '$.k') AS INT) % 10 AS INT) AS k_mod,
                   CASE WHEN event_id % 2 = 0 THEN event_type ELSE upper(event_type) END AS label,
                   count(*) AS n
            FROM events GROUP BY 1, 2
        """,
        "events_asof_last_error": """
            WITH a AS (
              SELECT event_id, user_id, event_type,
                     max(CASE WHEN event_type = 'error' THEN epoch_us(ts) END)
                       OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_error_us
              FROM events)
            SELECT event_id, user_id, last_error_us FROM a WHERE event_type = 'click'
        """,
        "family_agg_orders": """
            WITH ranked AS (
              SELECT l_orderkey, l_returnflag, l_linestatus, l_shipdate,
                     row_number() OVER (PARTITION BY l_orderkey
                                        ORDER BY l_shipdate DESC, l_linenumber DESC,
                                                 l_returnflag DESC, l_linestatus DESC) AS rn
              FROM lineitem)
            SELECT g.l_orderkey,
                   w.l_returnflag AS win_returnflag,
                   w.l_linestatus AS win_linestatus,
                   g.part_keys, g.line_numbers, g.n_lines,
                   strftime(w.l_shipdate, '%Y-%m-%d') AS last_ship
            FROM (
              SELECT l_orderkey,
                     array_to_string(list_sort(list_distinct(list(l_partkey))), ',') AS part_keys,
                     array_to_string(list_sort(list_distinct(list(l_linenumber))), ',') AS line_numbers,
                     count(*) AS n_lines
              FROM lineitem GROUP BY l_orderkey) g
            JOIN ranked w ON w.l_orderkey = g.l_orderkey AND w.rn = 1
        """,
        "authors_nested_exists": """
            -- first_flag replicates the struct array_sort order exactly:
            -- (seq_no, returnflag, linestatus) lexicographic, since seq_no
            -- (l_linenumber) is not unique per order in this table
            WITH r AS (
              SELECT l_orderkey, l_returnflag,
                     row_number() OVER (PARTITION BY l_orderkey
                                        ORDER BY l_linenumber, l_returnflag, l_linestatus) AS rn
              FROM lineitem),
            g AS (
              SELECT l_orderkey, CAST(count(*) AS INT) AS n_lines,
                     bool_or(l_returnflag = 'R') AS has_r
              FROM lineitem GROUP BY l_orderkey)
            SELECT g.l_orderkey, g.n_lines, r.l_returnflag AS first_flag
            FROM g JOIN r ON r.l_orderkey = g.l_orderkey AND r.rn = 1
            WHERE g.has_r
        """,
        "authors_explode_dedup": """
            SELECT l_returnflag, l_linestatus, count(*) AS n FROM (
              SELECT DISTINCT l_orderkey, l_returnflag, l_linestatus FROM lineitem)
            GROUP BY 1, 2
        """,
        "orders_partkey_overlap": """
            SELECT l_orderkey,
                   CAST(len(pks) AS INT) AS n_parts,
                   array_to_string(pks, ',') AS part_keys
            FROM (SELECT l_orderkey,
                         list_sort(list_distinct(list(l_partkey))) AS pks
                  FROM lineitem GROUP BY l_orderkey)
            WHERE list_has_any(pks, [1, 5, 22, 77, 123])
        """,
        "names_fold_diacritics": """
            SELECT c_custkey,
                   translate(c_name, 'aeiou', 'áéíóü') AS accented,
                   strip_accents(translate(c_name, 'aeiou', 'áéíóü')) AS folded
            FROM customer
        """,
        "upsert_customers": """
            WITH b1 AS (
              SELECT o_custkey AS cust, max(o_orderpriority) AS prio, count(*) AS n
              FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01' GROUP BY 1),
            b2 AS (
              SELECT o_custkey AS cust, max(o_orderpriority) AS prio, count(*) AS n
              FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01' GROUP BY 1)
            SELECT coalesce(b1.cust, b2.cust) AS cust,
                   coalesce(b2.prio, b1.prio) AS prio,
                   CAST(coalesce(b1.n, 0) + coalesce(b2.n, 0) AS BIGINT) AS seen_count,
                   CASE WHEN b1.cust IS NOT NULL THEN '2026-01-01' ELSE '2026-02-01' END AS first_seen,
                   CASE WHEN b2.cust IS NOT NULL THEN '2026-02-01' ELSE '2026-01-01' END AS last_seen
            FROM b1 FULL OUTER JOIN b2 ON b1.cust = b2.cust
        """,
        "orders_pagination": """
            SELECT o_orderkey, o_custkey, o_totalprice FROM orders
            ORDER BY o_totalprice DESC, o_orderkey ASC
            LIMIT 20 OFFSET 10
        """,
    }
