"""Workload inputs, the timed job of each workload, and output checks.

Every workload is a closed loop with one client: the next job starts only
after the previous one has returned. Inputs come from the seeded synthetic
generator and are written to parquet before anything is timed, so the
program reads only those files.
"""

from __future__ import annotations

import hashlib
import os
import time
from collections import Counter
from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from infoscience_imports_spark import caching
from infoscience_imports_spark.config import DedupConfig
from infoscience_imports_spark.plans.pipeline import STAGES, DedupPipeline
from infoscience_imports_spark.sources.catalog import CheckpointStore, chain_fingerprint
from infoscience_imports_spark.sources.synthetic import generate_web_pages, pipeline_input

# workload -> the planted class it keeps (None: the full duplicate mix)
WORKLOADS = {"batch_planted": None, "batch_unique": "UNIQUE"}
DEFAULT_PAGES = 2000
MIN_RECALL = 0.99


@dataclass
class Corpus:
    pages_path: str  # pipeline input: (url, warc_ts, html, text, lang)
    docs_dir: str  # holds documents.parquet for the entry queries
    n_pages: int
    html_bytes: int
    truth: dict  # doc_id -> duplicate group key


def write_corpus(spark: SparkSession, root: str, workload: str, seed: int, n: int) -> Corpus:
    """Generate the seeded corpus and write the program's input files."""
    gen = generate_web_pages(spark, n, seed=seed)
    keep = WORKLOADS[workload]
    if keep is not None:
        gen = gen.filter(F.col("dup_class") == keep)
    # truth: the planted group; a UNIQUE page is its own group unless another
    # page has the same text (at some sizes the generator gives a page cut
    # from an incomplete planted group the same text as a UNIQUE page)
    truth_key = F.when(
        F.col("dup_class") == "UNIQUE", F.concat(F.lit("text:"), F.xxhash64("text").cast("string"))
    ).otherwise(F.col("group_key"))
    gen = gen.select("*", F.xxhash64("url").alias("doc_id"), truth_key.alias("truth_key")).persist()
    try:
        pages_path = os.path.join(root, "pages.parquet")
        pipeline_input(gen).write.mode("overwrite").parquet(pages_path)
        docs_dir = os.path.join(root, "docs")
        gen.select(
            "doc_id",
            "text",
            "lang",
            F.split("url", "/").getItem(2).alias("source"),
            F.length("text").cast("long").alias("n_chars"),
        ).write.mode("overwrite").parquet(os.path.join(docs_dir, "documents.parquet"))
        rows = gen.select("doc_id", "truth_key", F.length("html").alias("nb")).collect()
    finally:
        gen.unpersist()
    return Corpus(
        pages_path=pages_path,
        docs_dir=docs_dir,
        n_pages=len(rows),
        html_bytes=sum(r["nb"] for r in rows),
        truth={r["doc_id"]: r["truth_key"] for r in rows},
    )


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _d, fs in os.walk(path) for f in fs
    )


def store_bytes(pipe: DedupPipeline) -> dict:
    """Bytes of the latest committed snapshot of every stage."""
    return {
        stage: dir_bytes(pipe.store.snapshots(stage)[-1]["path"]) for stage in STAGES
    }


def session_cfg(spark: SparkSession) -> DedupConfig:
    """The config the CLI builds: defaults plus the session's shuffle width."""
    return DedupConfig(shuffle_partitions=int(spark.conf.get("spark.sql.shuffle.partitions")))


# -- the timed job ------------------------------------------------------------------
def run_pipeline(spark, corpus: Corpus, warehouse: str, cfg: DedupConfig, tracer=None):
    """One full ``DedupPipeline.run`` into a fresh store.

    With a tracer the stages run one at a time, each in its own span.
    Returns (wall seconds, pipeline).
    """
    store = CheckpointStore(spark, warehouse)
    pipe = DedupPipeline(
        spark, store, cfg, input_fingerprint=chain_fingerprint("input", corpus.pages_path)
    )
    pages = spark.read.parquet(corpus.pages_path)
    t0 = time.monotonic()
    try:
        if tracer is None:
            pipe.run(pages)
        else:
            for stage in STAGES:
                with tracer.span(f"stage.{stage}") as s:
                    s.counts["rows_out"] = pipe.run(pages, stages=(stage,)).rows[stage]
    finally:
        caching.release_all()
    return time.monotonic() - t0, pipe


# -- output checks ----------------------------------------------------------------
def rows_hash(rows) -> str:
    """Order-independent digest of a row set: count plus a sum of row hashes."""
    acc = 0
    for r in rows:
        h = hashlib.blake2b(repr(tuple(r)).encode(), digest_size=8).digest()
        acc = (acc + int.from_bytes(h, "big")) % (1 << 64)
    return f"{len(rows)}:{acc:016x}"


def pair_quality(assign: dict, truth: dict) -> tuple[float, int, int]:
    """(recall, true pairs, false merges) of a doc -> cluster assignment.

    Recall counts true pairs (two docs of one group) that share a cluster,
    over all true pairs (a doc missing from ``assign`` shares no cluster).
    False merges are co-clustered pairs from different groups. Linear in the
    number of docs.
    """

    def pairs(counts: Counter) -> int:
        return sum(c * (c - 1) // 2 for c in counts.values())

    true_pairs = pairs(Counter(truth.values()))
    hits = pairs(Counter((c, truth[d]) for d, c in assign.items() if d in truth))
    false_merges = pairs(Counter(assign.values())) - hits
    return (hits / true_pairs if true_pairs else 1.0), true_pairs, false_merges


def check_pipeline(pipe: DedupPipeline, corpus: Corpus) -> tuple[str, list[str], dict]:
    """(output hash, failed checks, quality) of a committed pipeline run."""
    rows = pipe.clusters().select("doc_id", "cluster_id").collect()
    assign = {r[0]: r[1] for r in rows}
    recall, n_true, false_merges = pair_quality(assign, corpus.truth)
    failures = []
    if len(assign) != corpus.n_pages:
        failures.append(f"clusters cover {len(assign)} of {corpus.n_pages} docs")
    if recall < MIN_RECALL:
        failures.append(f"recall {recall:.4f} < {MIN_RECALL}")
    if false_merges:
        failures.append(f"{false_merges} false merges")
    quality = {"recall": recall, "true_pairs": n_true, "false_merges": false_merges}
    return rows_hash(rows), failures, quality
