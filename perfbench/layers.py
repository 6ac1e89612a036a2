"""The traced layer sweep: each layer timed from outside, through its public
functions, on the workload's own inputs, after the traced pipeline run.

Layers are named after the modules they call: ``op.*`` wraps
``operators.*`` on the committed pipeline snapshots, ``kernel.*`` the
``functions.*`` kernels in this process, ``stream.*``
``streaming.incremental`` and ``entry.*`` ``__spark_entry__``. Operators run
one after another on materialised inputs, so their numbers attribute cost;
they do not add up to the pipeline's wall time.
"""

from __future__ import annotations

import statistics
import time

from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from infoscience_imports_spark import caching
from infoscience_imports_spark.functions.text import extract_text_col, normalize_text_col
from infoscience_imports_spark.operators import components as comp
from infoscience_imports_spark.operators import containment as cont
from infoscience_imports_spark.operators import lsh, verify
from infoscience_imports_spark.streaming.incremental import IncrementalNearDedup

from .metrics import QUERIES
from .workloads import MIN_RECALL, dir_bytes, pair_quality

KERNEL_SAMPLE = 400


def _materialise(df):
    """Persist ``df`` and count it, so its whole plan runs exactly once."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    return df, df.count()


def operators(spark, tracer, pipe, cfg) -> tuple[dict, list]:
    """Candidate, verify and components operators on committed snapshots.

    Mirrors the edges and components stages of ``DedupPipeline``, with each
    operator's output materialised before the next one starts.
    """
    store = pipe.store
    snap = {s: store.read(s, pipe.fingerprint(s)) for s in ("extract", "signatures", "buckets", "edges")}
    reps = snap["signatures"].filter(F.col("is_rep"))
    held = []
    counts = {}

    def op(name, build):
        with tracer.span(f"op.{name}") as s:
            df, n = _materialise(build())
            s.counts["rows_out"] = n
        held.append(df)
        counts[name] = n
        return df

    with tracer.span("op.inputs"):
        rep_texts, _ = _materialise(
            snap["extract"].join(reps.select("doc_id"), on="doc_id", how="left_semi")
            .select("doc_id", "text_norm")
        )
        held.append(rep_texts)
    mh = op("cand_minhash", lambda: lsh.candidate_pairs(snap["buckets"], cfg).select(
        "id1", "id2", F.lit("minhash").alias("rule")))
    sh = op("cand_simhash", lambda: lsh.simhash_band_pairs(reps, cfg).select("id1", "id2"))
    ct = op("cand_contain", lambda: cont.containment_candidates(
        reps, rep_texts, cfg,
        n_docs_hint=store.rows("signatures", pipe.fingerprint("signatures")),
    ).select(F.col("small_id").alias("id1"), F.col("big_id").alias("id2"),
             F.lit("contain").alias("rule")))
    n_cands = counts["cand_minhash"] + counts["cand_simhash"] + counts["cand_contain"]
    small = n_cands <= cfg.broadcast_pair_limit
    fz = mh.unionByName(ct)
    op("verify_fuzzy", lambda: verify.verify_tagged_pairs(
        fz.hint("broadcast") if small else fz, rep_texts, cfg, pregated=True))
    op("verify_simhash", lambda: lsh.hamming_edges(sh, reps, cfg, gated=small))
    op("components", lambda: comp.connected_components(snap["edges"].select("id1", "id2"), cfg))
    n_edges = counts["verify_fuzzy"] + counts["verify_simhash"]
    metrics = {
        "op.verify.candidates": n_cands,
        "op.verify.edges": n_edges,
        "op.verify.yield": n_edges / n_cands if n_cands else 0.0,
    }
    return metrics, held


def kernels(spark, corpus, cfg) -> dict:
    """Per-doc cost of the ``functions/*`` kernels on a sample of the corpus."""
    import numpy as np

    from infoscience_imports_spark.functions.minhash import minhash_signature, perm_params
    from infoscience_imports_spark.functions.shingles import shingle_hashes, token_hashes
    from infoscience_imports_spark.functions.simhash import simhash64
    from infoscience_imports_spark.functions.text import extract_text_py, normalize_text_py

    htmls = [
        bytes(r[0])
        for r in spark.read.parquet(corpus.pages_path).select("html").limit(KERNEL_SAMPLE).collect()
    ]
    a, b = perm_params(cfg)
    n = len(htmls)

    def timed(fn, items):
        walls = []
        for _ in range(3):
            t0 = time.perf_counter()
            out = [fn(x) for x in items]
            walls.append(time.perf_counter() - t0)
        return out, statistics.median(walls) / n * 1e6

    texts, t_extract = timed(lambda h: normalize_text_py(extract_text_py(h)), htmls)
    toks = [t.split() for t in texts]
    memo: dict = {}
    ths, t_tok = timed(lambda ts: token_hashes(ts, memo), toks)
    shs, t_sh = timed(lambda th: shingle_hashes(th, cfg.shingle_k), ths)
    _, t_mh = timed(lambda sh: minhash_signature(sh, a, b), shs)
    _, t_sim = timed(lambda th: simhash64(np.asarray(th[:12])), ths)
    return {
        "kernel.extract_normalize.us_per_doc": t_extract,
        "kernel.token_hashes.us_per_doc": t_tok,
        "kernel.shingle_hashes.us_per_doc": t_sh,
        "kernel.minhash.us_per_doc": t_mh,
        "kernel.simhash.us_per_doc": t_sim,
    }


def stream(spark, tracer, corpus, state_dir, cfg) -> tuple[dict, list[str]]:
    """The corpus as one ``IncrementalNearDedup`` micro-batch, then one
    shallow and one deep compaction; checks post-deep clusters against the
    planted truth.

    One batch, not several: a second, hash-split batch would add the
    new-vs-state join path but costs about 20 s more, and the traced run
    must stay well under its 180 s budget.
    """
    inc = IncrementalNearDedup(spark, state_dir, cfg)
    pages = spark.read.parquet(corpus.pages_path)
    with tracer.span("stream.process_batch") as s_b:
        inc.process_batch(pages, 0)
    with tracer.span("stream.compact") as s_c:
        inc.compact()
    with tracer.span("stream.deep") as s_d:
        deep = inc.compact(deep=True)

    state = {
        "buckets": inc.bucket_dir,
        "docsigs": inc.docsig_dir,
        "clusters": inc.cluster_dir,
        "edges": inc.edge_dir,
    }
    sizes = {k: dir_bytes(p) for k, p in state.items()}
    metrics = {f"stream.state.{k}.mb": v / 1e6 for k, v in sizes.items()}
    metrics.update({
        "stream.state.bytes_per_input_byte": sum(sizes.values()) / corpus.html_bytes,
        "stream.process_batch.s": s_b.duration,
        "stream.compact.s": s_c.duration,
        "stream.deep.s": s_d.duration,
        "stream.deep.gen_s": float(deep.get("deep_gen_s") or 0.0),
        "stream.deep.cc_rewrite_s": float(deep.get("cc_rewrite_s") or 0.0),
    })

    # exact-dup followers are not admitted; score them through the admitted
    # doc of their content digest (first admitted per digest)
    first = (
        spark.read.parquet(inc.new_dir)
        .groupBy("digest")
        .agg(F.min_by("doc_id", "batch_id").alias("rep_id"))
    )
    doc_rep = pages.select(
        F.xxhash64("url").alias("doc_id"),
        F.xxhash64(normalize_text_col(extract_text_col(F.col("html")))).alias("digest"),
    ).join(first, on="digest")
    rows = (
        doc_rep.join(inc.clusters().withColumnRenamed("doc_id", "rep_id"), on="rep_id")
        .select("doc_id", "cluster_id")
        .collect()
    )
    caching.release_all()
    recall, _, false_merges = pair_quality({r[0]: r[1] for r in rows}, corpus.truth)
    metrics["quality.stream_recall"] = recall
    metrics["quality.stream_false_merges"] = false_merges
    failures = []
    if recall < MIN_RECALL:
        failures.append(f"stream recall after deep compact {recall:.4f} < {MIN_RECALL}")
    if false_merges:
        failures.append(f"stream: {false_merges} false merges after deep compact")
    return metrics, failures


def entry(spark, tracer, corpus) -> tuple[dict, list[str]]:
    """The four ``__spark_entry__`` dedup queries over the corpus's
    ``documents.parquet``, each collected to the driver, then checked: the
    entry clusters come from MinHash edges only and list only docs that have
    an edge, so they are held to zero false merges, not to recall."""
    import __spark_entry__ as entry_module

    qs = entry_module.queries()
    out = {}
    for name in QUERIES:
        with tracer.span(f"entry.{name}") as s:
            out[name] = qs[name](spark, corpus.docs_dir).collect()
            s.counts["rows_out"] = len(out[name])
        entry_module.release_caches()

    assign = {r["doc_id"]: r["cluster_id"] for r in out["dedup_clusters"]}
    recall, _, false_merges = pair_quality(assign, corpus.truth)
    wrong = sum(
        corpus.truth.get(r["id1"]) != corpus.truth.get(r["id2"])
        for r in out["dedup_minhash_lsh"]
    )
    failures = []
    if false_merges:
        failures.append(f"dedup_clusters: {false_merges} false merges")
    if wrong:
        failures.append(f"dedup_minhash_lsh: {wrong} pairs outside a planted group")
    return {"quality.entry_recall": recall}, failures
