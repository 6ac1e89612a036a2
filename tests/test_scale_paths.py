"""Above-gate branch parity (round-2 verdict, 'What's missing' #1).

Every size gate in the pipeline selects between a small-corpus plan and the
web-scale plan (broadcast vs shuffle verify join, window rep_id vs broadcast
rep join, driver union-find vs distributed large-star/small-star, unsalted
vs salted CC joins). The e2e corpora all land under the gates, so the
100x-scale branches were exercised only by unit tests. Here the SAME corpus
runs through both: a default-gate pipeline and one whose gates are forced to
zero — outputs must be identical row-for-row (the gates are pure physical-
plan switches; cluster ids are deterministic component minima).
"""

import shutil
import tempfile

from pyspark.sql import functions as F

from infoscience_imports_spark.config import DedupConfig
from infoscience_imports_spark.plans.pipeline import DedupPipeline
from infoscience_imports_spark.sources.catalog import CheckpointStore
from infoscience_imports_spark.sources.synthetic import pipeline_input, true_pairs


FORCED_ABOVE_GATE = DedupConfig(
    broadcast_pair_limit=0,   # signatures window rep_id + shuffle verify join
    cc_local_max_edges=0,     # distributed large-star/small-star components
    salt_min_edges=0,         # salted hub joins inside every CC iteration
)


def _run(spark, pages, cfg, tag):
    wh = tempfile.mkdtemp(prefix=f"wh-gate-{tag}-")
    pipe = DedupPipeline(spark, CheckpointStore(spark, wh), cfg, input_fingerprint="gate200")
    pipe.run(pages)
    out = sorted(
        (r["doc_id"], r["cluster_id"]) for r in pipe.clusters().collect()
    )
    return wh, out


def test_above_gate_branches_match_gated_output(spark, tiny_pages):
    pages = pipeline_input(tiny_pages)
    wh1, gated = _run(spark, pages, DedupConfig(), "default")
    wh2, forced = _run(spark, pages, FORCED_ABOVE_GATE, "forced")
    assert forced == gated
    # sanity: the forced run still found real structure (not all singletons)
    n_docs = len(forced)
    n_clusters = len({c for _, c in forced})
    assert n_docs == 200 and n_clusters < n_docs
    shutil.rmtree(wh1)
    shutil.rmtree(wh2)


def test_above_gate_recall_on_planted_truth(spark, tiny_pages):
    """The forced-branch run must still hit recall 1.0 on the planted
    duplicate classes — the north-rule metric, via the web-scale code."""
    pages = pipeline_input(tiny_pages)
    wh = tempfile.mkdtemp(prefix="wh-gate-recall-")
    pipe = DedupPipeline(
        spark, CheckpointStore(spark, wh), FORCED_ABOVE_GATE, input_fingerprint="gate200"
    )
    pipe.run(pages)
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
    recall = j.agg(
        F.avg((F.col("c1") == F.col("c2")).cast("double")).alias("r")
    ).collect()[0]["r"]
    assert recall == 1.0
    shutil.rmtree(wh)


def test_contamination_join_strategy_follows_gate(spark):
    """Plan-shape pin for operators/decontaminate.py: under the gate the
    probe postings BROADCAST (corpus side reaches the join without an
    exchange); past the gate the join is an explicit ShuffledHashJoin —
    never a size-estimate flip to a corpus-sided broadcast."""
    from infoscience_imports_spark.operators.decontaminate import contamination_report

    corpus = spark.createDataFrame(
        [(i, [i * 10 + 1, i * 10 + 2, 7], 3) for i in range(20)],
        "doc_id long, shs array<long>, n int",
    )
    probes = spark.createDataFrame(
        [(100, [7, 999, 998], 3)], "probe_id long, shs array<long>, n int"
    )
    rep = contamination_report(corpus, probes, DedupConfig(), min_frac=(0, 1))
    rep.collect()  # finalize the adaptive plan before inspecting it
    plan = rep._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    rep0 = contamination_report(
        corpus, probes, DedupConfig(broadcast_pair_limit=0), min_frac=(0, 1)
    )
    rep0.collect()
    plan0 = rep0._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan0, plan0
    assert "BroadcastHashJoin" not in plan0, plan0
