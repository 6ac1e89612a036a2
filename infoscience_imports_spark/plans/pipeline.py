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
  * Jaccard verification is JVM-side (array_intersect on stored shingle
    sets) — Python appears only in the Arrow signature kernel and the final
    substring check on containment survivors;
  * components are iterative large-star/small-star self-joins with salted
    hub keys (operators/components.py).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DedupConfig, DEFAULT_CONFIG
from ..operators import components as comp
from ..operators import containment as cont
from ..operators import lsh
from ..operators import signatures as sigs
from ..operators import verify
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
        self.cfg_fp = chain_fingerprint(repr(sorted(cfg.to_dict().items())))
        self.input_fp = input_fingerprint
        self._stage_persists: list[DataFrame] = []
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
        duplicate follower's minhash/bands/simhash/bottomk columns are never
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
        # a representative IS its own rep by definition — no join-back needed.
        # The raw 128-perm minhash array is DROPPED before the snapshot
        # write: every downstream consumer reads the derived columns (bands
        # for bucketing, simhash64/bottomk for the other rules; verify
        # recomputes shingles from text), so the only reader of the stored
        # array is band_buckets' legacy-snapshot fallback. At ~1 KB/doc of
        # near-incompressible values it dominated the snapshot row — pure
        # dead write (the streaming docsig state made the same call,
        # streaming/incremental.py:339-352).
        sg_reps = (
            sigs.compute_signatures(reps, self.cfg, include_shingles=False)
            .withColumn("rep_id", F.col("doc_id"))
            .drop("minhash")
        )
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
        from pyspark.storagelevel import StorageLevel

        reps = self._representatives(signatures)
        # candidate-generation reads narrow columns only (column pruning on
        # the signature parquet); every verify recomputes shingles from
        # text_norm (scale rationale in operators/signatures.py).
        # rep_texts feeds three consumers (containment postings + the two
        # text joins of the unified verify) — persist it once instead of
        # re-scanning the extract snapshot per consumer.
        rep_texts = (
            extract_df.join(reps.select("doc_id"), on="doc_id", how="left_semi")
            .select("doc_id", "text_norm")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        self._stage_persists.append(rep_texts)
        exact = verify.exact_edges(signatures)
        # NB: one unified candidate_pairs over a banded union of both LSH
        # families was tried (round 3) and REVERTED: the per-family subtrees
        # below evaluate concurrently inside the single gated count job
        # (independent stages of one job fill idle cores), and the union
        # serialized that work through one longer shuffle chain — measured
        # edges 8.2 s -> 11.0 s at 20k pages. Shuffle COUNT is not the
        # bottleneck here; concurrent stage occupancy is.
        #
        # The family constructors run no Spark job of their own except the
        # containment Bloom build (one JVM aggregation + bounded collect):
        # both candidate_pairs calls are lazy, so all candidate work lands in
        # the gated count job below.
        minhash_pairs = lsh.candidate_pairs(buckets, self.cfg).select(
            "id1", "id2", F.lit("minhash").alias("rule")
        )
        contain_cand = cont.containment_candidates(
            reps,
            rep_texts,
            self.cfg,
            n_docs_hint=self.store.rows("signatures", self.fingerprint("signatures")),
        ).select(
            F.col("small_id").alias("id1"),
            F.col("big_id").alias("id2"),
            F.lit("contain").alias("rule"),
        )
        sim_pairs = lsh.simhash_band_pairs(reps, self.cfg).select(
            "id1", "id2", F.lit("simhash").alias("rule")
        )
        # ONE gated candidate frame for all three fuzzy rules: a single
        # persist+count job evaluates the minhash/containment/simhash
        # candidate subtrees concurrently (independent stages of one job fill
        # idle cores), where per-rule gates would chain three serial jobs.
        cands = minhash_pairs.unionByName(contain_cand).unionByName(sim_pairs).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        n_cands = cands.count()
        small = n_cands <= self.cfg.broadcast_pair_limit
        self.metrics["candidate_pairs"] = n_cands
        self.metrics["verify_broadcast_gated"] = small
        self._stage_persists.append(cands)
        fz_pairs = cands.filter(F.col("rule") != "simhash")
        sh_pairs = cands.filter(F.col("rule") == "simhash").select("id1", "id2")
        if small:
            fz_pairs = fz_pairs.hint("broadcast")
        # both fuzzy rules verify in ONE kernel pass over ONE pair of text
        # joins (operators/verify.py verify_tagged_pairs)
        fuzzy = verify.verify_tagged_pairs(fz_pairs, rep_texts, self.cfg, pregated=True)
        simhash = lsh.hamming_edges(sh_pairs, reps, self.cfg, gated=small).select(
            "id1",
            "id2",
            (F.lit(1.0) - F.col("hamming") / F.lit(64.0)).alias("jaccard"),
            F.lit("simhash").alias("rule"),
        )
        return verify.combine_edges(exact, fuzzy, simhash)

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
        stage's dominant input snapshot.

        The kernel-heavy stages read snapshots of very different sizes (raw
        html vs extracted text vs narrow buckets); one session-wide split
        size either starves the big scan or shreds the small one into
        hundreds of tasks that each pay the ~100 ms Arrow worker handshake.
        Local-path sizing only (object-store deployments fall back to the
        session setting — on a cluster the equivalent knob is per-stage job
        conf via ``spark.conf.set`` exactly as done here).
        """
        import os

        if os.environ.get("SPARK_GRAFT_NO_STAGE_TUNE"):
            return
        src = self._STAGE_SCAN_INPUT.get(stage)
        if src is None:
            return
        snap = os.path.join(
            self.store._snap_dir(src, self.fingerprint(src)), "data"
        )
        if not os.path.isdir(snap):
            return
        total = sum(
            os.path.getsize(os.path.join(r, f))
            for r, _d, fs in os.walk(snap)
            for f in fs
        )
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
            info = self.store.write(stage, df, fp, key_col=key)
            for cached in self._stage_persists:
                cached.unpersist()
            self._stage_persists.clear()
            # operator-internal tracked persists (the containment sketch
            # table) are scoped to the stage that created them
            from .. import caching as _caching

            _caching.release_all()
            res.timings[stage] = time.monotonic() - t0
            res.rows[stage] = info.rows
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
