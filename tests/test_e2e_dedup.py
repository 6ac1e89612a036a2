"""End-to-end cluster-assignment tests against an independent brute-force oracle.

Per FIXTURES.md §1: the oracle is O(n^2) exact Jaccard (tuple shingles — no
hashing, so it is implementation-independent) + containment + exact-text +
SimHash-title rules, closed with union-find. Asserts dup-pair recall >= 0.99
(BASELINE.json metric) and exact agreement with planted classes.
"""

import tempfile

import pytest
from pyspark.sql import functions as F

from infoscience_imports_spark.config import DedupConfig
from infoscience_imports_spark.functions.simhash import hamming64, simhash64
from infoscience_imports_spark.functions.shingles import token_hashes
from infoscience_imports_spark.functions.text import normalize_text_py, extract_text_py
from infoscience_imports_spark.plans.pipeline import DedupPipeline
from infoscience_imports_spark.sources.catalog import CheckpointStore
from infoscience_imports_spark.sources.synthetic import pipeline_input, true_pairs


class UnionFind:
    def __init__(self):
        self.p = {}

    def find(self, x):
        self.p.setdefault(x, x)
        while self.p[x] != x:
            self.p[x] = self.p[self.p[x]]
            x = self.p[x]
        return x

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.p[max(ra, rb)] = min(ra, rb)


def _tuple_shingles(text: str, k: int = 5) -> set:
    toks = text.split()
    if not toks:
        return set()
    if len(toks) < k:
        return {tuple(toks)}
    return {tuple(toks[i : i + k]) for i in range(len(toks) - k + 1)}


@pytest.fixture(scope="module")
def pipeline_run(spark, tiny_pages):
    cfg = DedupConfig()
    store = CheckpointStore(spark, tempfile.mkdtemp(prefix="wh-e2e-"))
    pipe = DedupPipeline(spark, store, cfg, input_fingerprint="e2e200")
    pipe.run(pipeline_input(tiny_pages))
    return pipe, cfg


def _oracle_clusters(rows, cfg):
    """Independent dup graph: exact, jaccard>=thr, substring, simhash<=r."""
    uf = UnionFind()
    docs = []
    for r in rows:
        norm = normalize_text_py(extract_text_py(bytes(r["html"])))
        toks = norm.split()
        docs.append(
            {
                "id": r["doc_id"],
                "norm": norm,
                "sh": _tuple_shingles(norm, cfg.shingle_k),
                "title_fp": simhash64(token_hashes(toks[:12])),
            }
        )
        uf.find(r["doc_id"])
    n = len(docs)
    for i in range(n):
        for j in range(i + 1, n):
            a, b = docs[i], docs[j]
            if a["norm"] == b["norm"]:
                uf.union(a["id"], b["id"])
                continue
            inter = len(a["sh"] & b["sh"])
            if inter:
                jac = inter / (len(a["sh"]) + len(b["sh"]) - inter)
                if jac >= cfg.jaccard_threshold:
                    uf.union(a["id"], b["id"])
                    continue
                small, big = (a, b) if len(a["sh"]) <= len(b["sh"]) else (b, a)
                if (
                    len(small["sh"]) > 0
                    and inter / len(small["sh"]) >= cfg.containment_threshold
                    and small["norm"] in big["norm"]
                ):
                    uf.union(a["id"], b["id"])
                    continue
            if hamming64(a["title_fp"], b["title_fp"]) <= cfg.simhash_hamming_max:
                uf.union(a["id"], b["id"])
    return {d["id"]: uf.find(d["id"]) for d in docs}


def test_recall_vs_planted_truth(spark, tiny_pages, pipeline_run):
    pipe, _ = pipeline_run
    clusters = pipe.clusters()
    tp = true_pairs(tiny_pages)
    j = (
        tp.join(
            clusters.withColumnRenamed("doc_id", "id1").withColumnRenamed("cluster_id", "c1"),
            "id1",
        ).join(
            clusters.withColumnRenamed("doc_id", "id2").withColumnRenamed("cluster_id", "c2"),
            "id2",
        )
    )
    stats = j.agg(
        F.avg((F.col("c1") == F.col("c2")).cast("double")).alias("recall"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    assert stats["n"] > 50
    assert stats["recall"] >= 0.99


def test_unique_docs_stay_singletons(spark, tiny_pages, pipeline_run):
    pipe, _ = pipeline_run
    clusters = pipe.clusters()
    uniq = tiny_pages.filter(F.col("dup_class") == "UNIQUE").select(
        F.xxhash64("url").alias("doc_id")
    )
    merged = (
        uniq.join(clusters, "doc_id")
        .groupBy("cluster_id")
        .count()
        .filter("count > 1")
        .count()
    )
    assert merged == 0


def test_cluster_assignments_match_bruteforce_oracle(spark, tiny_pages, pipeline_run):
    pipe, cfg = pipeline_run
    rows = tiny_pages.select(
        F.xxhash64("url").alias("doc_id"), "html"
    ).collect()
    oracle = _oracle_clusters(rows, cfg)

    got = {r["doc_id"]: r["cluster_id"] for r in pipe.clusters().collect()}
    assert set(got) == set(oracle)

    # compare as partitions (cluster-id choice is min-id in both — compare sets)
    def parts(assign):
        inv = {}
        for k, v in assign.items():
            inv.setdefault(v, set()).add(k)
        return {frozenset(v) for v in inv.values()}

    oracle_parts = parts(oracle)
    got_parts = parts(got)
    # recall: every oracle co-pair must be co-clustered in got
    oracle_pairs = {
        (min(a, b), max(a, b))
        for grp in oracle_parts
        for a in grp
        for b in grp
        if a < b
    }
    got_pairs = {
        (min(a, b), max(a, b))
        for grp in got_parts
        for a in grp
        for b in grp
        if a < b
    }
    missed = oracle_pairs - got_pairs
    extra = got_pairs - oracle_pairs
    recall = 1 - len(missed) / max(1, len(oracle_pairs))
    assert recall >= 0.99, f"missed {len(missed)} of {len(oracle_pairs)}"
    assert not extra, f"pipeline merged {len(extra)} pairs the oracle would not"


def test_determinism_two_runs_identical(spark, tiny_pages):
    cfg = DedupConfig()
    outs = []
    for run in range(2):
        store = CheckpointStore(spark, tempfile.mkdtemp(prefix=f"wh-det{run}-"))
        pipe = DedupPipeline(spark, store, cfg, input_fingerprint="det200")
        pipe.run(pipeline_input(tiny_pages).repartition(4 if run == 0 else 7))
        outs.append(sorted((r["doc_id"], r["cluster_id"]) for r in pipe.clusters().collect()))
    assert outs[0] == outs[1]


def test_cc_fast_path_matches_distributed(spark):
    """The size-gated driver union-find and the large-star/small-star
    iteration must produce identical assignments (same min-root rule)."""
    from infoscience_imports_spark.operators.components import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (30, 30), (5, 4), (100, 3), (11, 12), (12, 1000)],
        "id1 long, id2 long",
    )
    fast = sorted(
        tuple(r) for r in connected_components(edges, DedupConfig()).collect()
    )
    forced = DedupConfig(cc_local_max_edges=0, salt_min_edges=0)
    dist = sorted(tuple(r) for r in connected_components(edges, forced).collect())
    assert fast == dist
    assert fast[0] == (1, 1)


def test_grouped_pair_recall_matches_explicit_join(spark, tiny_pages, pipeline_run):
    """grouped_pair_recall must equal the quadratic true_pairs join exactly —
    it is the production-soak scorer, where the explicit join is infeasible
    (HOT is C(100k, 2) pairs at 2M pages)."""
    from infoscience_imports_spark.sources.synthetic import grouped_pair_recall

    pipe, _ = pipeline_run
    clusters = pipe.clusters()
    tp = true_pairs(tiny_pages)
    j = (
        tp.join(
            clusters.withColumnRenamed("doc_id", "id1").withColumnRenamed("cluster_id", "c1"),
            "id1",
        ).join(
            clusters.withColumnRenamed("doc_id", "id2").withColumnRenamed("cluster_id", "c2"),
            "id2",
        )
    )
    n_true = j.count()
    n_hit = j.filter(F.col("c1") == F.col("c2")).count()
    r, n = grouped_pair_recall(tiny_pages, clusters)
    assert n == n_true
    assert abs(r - n_hit / max(1, n_true)) < 1e-12

    # and on an adversarial split assignment (group halves in two clusters)
    ids = tiny_pages.select(
        F.xxhash64("url").alias("doc_id"), "group_key", "dup_class"
    )
    split = ids.select(
        "doc_id",
        F.when(F.pmod("doc_id", F.lit(2)) == 0, F.xxhash64("group_key"))
        .otherwise(F.xxhash64("group_key") + 1)
        .alias("cluster_id"),
    )
    j2 = (
        tp.join(split.withColumnRenamed("doc_id", "id1").withColumnRenamed("cluster_id", "c1"), "id1")
        .join(split.withColumnRenamed("doc_id", "id2").withColumnRenamed("cluster_id", "c2"), "id2")
    )
    want = j2.filter(F.col("c1") == F.col("c2")).count() / max(1, j2.count())
    got, _ = grouped_pair_recall(tiny_pages, split)
    assert abs(got - want) < 1e-12


def test_width_scale_widens_groups_and_dedups_clean(spark):
    """width_scale multiplies planted group widths (the dup-heavier mix for
    the production-gate soak) without breaking class semantics: the pipeline
    still reaches recall 1.0 and UNIQUE docs stay singletons."""
    from infoscience_imports_spark.sources.synthetic import (
        generate_web_pages,
        grouped_pair_recall,
    )

    pages = generate_web_pages(spark, 400, seed=13, width_scale=3).cache()
    sizes = {
        r["n"]
        for r in pages.filter(~F.col("dup_class").isin("UNIQUE", "HOT"))
        .groupBy("group_key")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert sizes <= {6, 9}, sizes  # pair classes -> 2*3, CHAIN -> 3*3
    wh = tempfile.mkdtemp(prefix="ws-")
    pipe = DedupPipeline(
        spark, CheckpointStore(spark, wh), DedupConfig(shuffle_partitions=8)
    )
    pipe.run(pipeline_input(pages))
    r, n = grouped_pair_recall(pages, pipe.clusters())
    assert n > 0 and r == 1.0
    pages.unpersist()


def test_candidate_pairs_no_self_pairs_on_duplicate_bucket_rows(spark, jobs_submitted):
    """Regression (round-5 ADVICE): duplicate (band, bucket, doc_id) input
    rows must not produce id1 == id2 self-pairs from the array-based pair
    generator — the replaced self-join's strict doc_id< filter suppressed
    them, and the rewrite's contract must match under any input.

    A bucket above ``bucket_cap`` (also with a duplicate row) pairs as a star
    against its min/max doc_id hubs, next to the all-pairs small buckets,
    and building the frame submits no Spark job (hot-bucket detection is
    part of the plan, not a driver probe)."""
    from infoscience_imports_spark.operators.lsh import candidate_pairs

    rows = [
        (0, "b0", 1), (0, "b0", 1), (0, "b0", 2),   # dup row for doc 1
        (1, "b1", 3), (1, "b1", 3),                  # bucket with ONLY a dup row
        (2, "b2", 4),
    ] + [(3, "hot", d) for d in (10, 11, 12, 12, 13, 14)]  # 6 rows > cap 3
    buckets = spark.createDataFrame(rows, "band int, bucket string, doc_id bigint")
    pairs, jobs = jobs_submitted(
        lambda: candidate_pairs(buckets, DedupConfig(bucket_cap=3))
    )
    assert jobs == []
    got = {(r["id1"], r["id2"]) for r in pairs.collect()}
    star = {(10, d) for d in (11, 12, 13, 14)} | {(d, 14) for d in (10, 11, 12, 13)}
    assert got == {(1, 2)} | star, got


def test_build_bloom_matches_numpy_reference(spark):
    """The SQL-built Bloom bitmap is bit-for-bit the NumPy fold of the
    prober's positions (negative values and bit 63 included), has no false
    negatives, and keeps the false-positive rate at 16 bits/item <= 2%."""
    import numpy as np
    import pandas as pd

    from infoscience_imports_spark.operators.containment import (
        _bloom_positions,
        _bloom_test,
        build_bloom,
    )

    rng = np.random.default_rng(11)
    i64 = np.iinfo(np.int64)
    vals = rng.integers(i64.min, i64.max, 20_000, dtype=np.int64, endpoint=True)
    vals[:4] = [i64.min, -1, 0, i64.max]
    assert (vals < 0).sum() > 5_000  # bit 63 set on a good share
    df = spark.createDataFrame(pd.DataFrame({"sh": vals}))
    bitmap, m_bits = build_bloom(df, "sh", len(vals), bits_per_item=16)

    u = vals.view(np.uint64)
    ref = np.zeros(m_bits // 8, dtype=np.uint8)
    for p in _bloom_positions(u, m_bits):
        bits = (np.uint8(1) << (p & np.uint64(7)).astype(np.uint8)).astype(np.uint8)
        np.bitwise_or.at(ref, (p >> np.uint64(3)).astype(np.int64), bits)
    assert bitmap == ref.tobytes()

    bm = np.frombuffer(bitmap, dtype=np.uint8)
    assert _bloom_test(bm, u, m_bits).all()
    probes = rng.integers(i64.min, i64.max, 200_000, dtype=np.int64, endpoint=True)
    probes = probes[~np.isin(probes, vals)]
    fpr = _bloom_test(bm, probes.view(np.uint64), m_bits).mean()
    assert fpr <= 0.02, fpr


def test_connected_components_empty_edges(spark):
    """No edges -> 0 assignments with the (doc_id long, cluster_id long)
    schema, as an empty JVM relation (no Python-side empty frame)."""
    from infoscience_imports_spark.operators.components import connected_components

    edges = spark.range(0).select(F.col("id").alias("id1"), F.col("id").alias("id2"))
    out = connected_components(edges, DedupConfig())
    assert [(f.name, f.dataType.simpleString()) for f in out.schema.fields] == [
        ("doc_id", "bigint"),
        ("cluster_id", "bigint"),
    ]
    assert "LocalRelation" in out._jdf.queryExecution().optimizedPlan().toString()
    assert out.collect() == []


def test_duplicate_pairs_bounded_and_correct(spark):
    """Round-5 verdict #3: duplicate_pairs() must stay linear-space on the
    shuffle (bounded per-cluster arrays, no cluster-table self-join) and
    refuse a mega-cluster whose pair frame would be ~c^2/2 rows, pointing
    at the linear-space scorer."""
    from infoscience_imports_spark.plans.pipeline import DedupPipeline

    pipe = DedupPipeline(
        spark, CheckpointStore(spark, tempfile.mkdtemp()), DedupConfig(shuffle_partitions=8)
    )
    small = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 5), (6, 5)], "doc_id long, cluster_id long"
    )
    pipe.clusters = lambda: small
    got = {(r["id1"], r["id2"]) for r in pipe.duplicate_pairs().collect()}
    assert got == {(1, 2), (1, 3), (2, 3), (5, 6)}

    mega = spark.range(0, 3000).select(
        F.col("id").alias("doc_id"), F.lit(0).alias("cluster_id")
    )
    pipe.clusters = lambda: mega
    with pytest.raises(ValueError, match="grouped_pair_recall"):
        pipe.duplicate_pairs(max_cluster_size=1000)
    # an explicit higher cap still materializes the full combination set
    assert pipe.duplicate_pairs(max_cluster_size=3000).count() == 3000 * 2999 // 2


def test_deep_compaction_edges_equal_pipeline_fuzzy_edges(spark, tiny_pages, pipeline_run):
    """The batch pipeline and streaming deep compaction compose the fuzzy
    rule families through one operator: a full deep pass over the stream
    state of the same pages finds exactly the pipeline's non-exact edges."""
    from infoscience_imports_spark import caching
    from infoscience_imports_spark.streaming.incremental import IncrementalNearDedup

    pipe, cfg = pipeline_run
    inc = IncrementalNearDedup(
        spark, tempfile.mkdtemp(prefix="stream-deep-eq-"), cfg, n_state_buckets=8
    )
    inc.process_batch(pipeline_input(tiny_pages), 0)
    try:
        deep = inc._deep_edges()
        got = {
            (r[0], r[1])
            for r in deep.select(F.least("id1", "id2"), F.greatest("id1", "id2")).collect()
        }
    finally:
        caching.release_all()
    snap = pipe.store.read("edges", pipe.fingerprint("edges"))
    want = {
        (r[0], r[1])
        for r in snap.filter(F.col("rule") != "exact")
        .select(F.least("id1", "id2"), F.greatest("id1", "id2"))
        .collect()
    }
    assert want and got == want


def test_text_verify_minhash_rows_equal_array_verify(spark, tiny_pages):
    """The text verify kernel's minhash rows are byte-identical to the
    array-based JVM verify on the same candidates: same (id1, id2) and the
    same jaccard double, empty-text docs included (they never link)."""
    from infoscience_imports_spark import caching
    from infoscience_imports_spark.functions.text import extract_text_col, normalize_text_col
    from infoscience_imports_spark.operators import lsh, verify
    from infoscience_imports_spark.operators import signatures as sigs

    cfg = DedupConfig(shuffle_partitions=8)
    pages = pipeline_input(tiny_pages).select(
        F.xxhash64("url").alias("doc_id"),
        normalize_text_col(extract_text_col(F.col("html"))).alias("text_norm"),
    )
    empty = spark.createDataFrame([(-1, ""), (-2, "")], "doc_id long, text_norm string")
    texts = pages.unionByName(empty).cache()
    sg = sigs.compute_signatures(texts, cfg).cache()
    ids = [r[0] for r in pages.select("doc_id").orderBy("doc_id").limit(12).collect()]
    extra = [(a, b) for a in ids for b in ids if a < b]
    extra += [(-2, -1), (-1, ids[0]), (ids[1], -2)]
    pairs = (
        lsh.candidate_pairs(lsh.band_buckets(sg, cfg), cfg)
        .unionByName(spark.createDataFrame(extra, "id1 long, id2 long"))
        .distinct()
        .cache()
    )
    want = {
        (r["id1"], r["id2"], r["jaccard"])
        for r in verify.jaccard_verify(pairs, sg, cfg).collect()
    }
    tagged = pairs.withColumn("rule", F.lit("minhash"))
    rows = verify.verify_tagged_pairs(tagged, texts, cfg).collect()
    got = {(r["id1"], r["id2"], r["jaccard"]) for r in rows}
    assert {r["rule"] for r in rows} == {"minhash"}
    assert want and got == want
    assert len(want) < pairs.count()  # some candidates were rejected
    for df in (texts, sg, pairs):
        df.unpersist()
    caching.release_all()  # the two verify gates' tracked pair persists


def test_pipeline_run_releases_every_tracked_persist(spark, monkeypatch):
    """Every frame the pipeline and the streaming dedup persist goes through
    caching.persist_tracked and is unpersisted by the end of run(),
    process_batch() and compact()."""
    import sys

    from pyspark.storagelevel import StorageLevel

    from infoscience_imports_spark import caching
    from infoscience_imports_spark.sources.synthetic import generate_web_pages
    from infoscience_imports_spark.streaming.incremental import IncrementalNearDedup

    persisted = []
    original = caching.persist_tracked

    def recording(df, *args, **kwargs):
        out = original(df, *args, **kwargs)
        persisted.append(out)
        return out

    # modules bind the function at import (``from ..caching import ...``)
    for mod in list(sys.modules.values()):
        if getattr(mod, "persist_tracked", None) is original:
            monkeypatch.setattr(mod, "persist_tracked", recording)

    pages = generate_web_pages(spark, 80, seed=5)
    pipe = DedupPipeline(
        spark,
        CheckpointStore(spark, tempfile.mkdtemp(prefix="wh-persist-")),
        DedupConfig(shuffle_partitions=8),
    )
    pipe.run(pipeline_input(pages))
    # rep_texts, the containment sketch rows and the gated candidate frame
    assert len(persisted) >= 3
    assert all(df.storageLevel == StorageLevel.NONE for df in persisted)

    # streaming: two micro-batches (the second also verifies new-vs-old)
    # and a deep compaction
    persisted.clear()
    inc = IncrementalNearDedup(
        spark, tempfile.mkdtemp(prefix="stream-persist-"),
        DedupConfig(shuffle_partitions=8), n_state_buckets=8,
    )
    split = pipeline_input(pages).withColumn("_b", F.pmod(F.xxhash64("url"), F.lit(2)))
    inc.process_batch(split.filter("_b = 0").drop("_b"), 0)
    # the signature pass, the new-new pairs and their verified edges
    assert len(persisted) >= 3
    assert all(df.storageLevel == StorageLevel.NONE for df in persisted)
    inc.process_batch(split.filter("_b = 1").drop("_b"), 1)
    n_batches = len(persisted)
    inc.compact(deep=True)
    # the deep doc-state scan, the gated candidates and the relabel frame
    assert len(persisted) >= n_batches + 3
    assert all(df.storageLevel == StorageLevel.NONE for df in persisted)
