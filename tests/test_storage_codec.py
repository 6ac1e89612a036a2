"""Storage codec and size-probe tests.

Every Parquet file the engine writes follows the session codec (zstd, set in
``session.get_spark``); snapshots and state dirs written with another codec
stay readable and resumable. The size probe behind the entry queries'
repartition gate fails closed.
"""

import datetime
import os
import shutil
import tempfile

import pyarrow.parquet as pq
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from infoscience_imports_spark import caching
from infoscience_imports_spark.config import DedupConfig
from infoscience_imports_spark.plans.pipeline import DedupPipeline
from infoscience_imports_spark.session import path_bytes
from infoscience_imports_spark.sources.catalog import CheckpointStore
from infoscience_imports_spark.sources.synthetic import pipeline_input, render_html
from infoscience_imports_spark.streaming.incremental import IncrementalNearDedup

CODEC = "spark.sql.parquet.compression.codec"


def _codecs(root: str) -> dict[str, set[str]]:
    """``.parquet`` file -> the codecs of its column chunks (first row group)."""
    out = {}
    for r, _d, fs in os.walk(root):
        for f in fs:
            if f.endswith(".parquet"):
                md = pq.ParquetFile(os.path.join(r, f)).metadata
                if md.num_row_groups:
                    rg = md.row_group(0)
                    out[os.path.join(r, f)] = {
                        rg.column(i).compression for i in range(rg.num_columns)
                    }
    return out


def _clusters(pipe: DedupPipeline) -> list:
    return sorted((r["doc_id"], r["cluster_id"]) for r in pipe.clusters().collect())


@pytest.fixture(scope="module")
def zstd_run(spark, tiny_pages):
    wh = tempfile.mkdtemp(prefix="wh-zstd-")
    pipe = DedupPipeline(spark, CheckpointStore(spark, wh), DedupConfig(), input_fingerprint="zs")
    pipe.run(pipeline_input(tiny_pages))
    yield wh, pipe
    shutil.rmtree(wh)


def test_every_written_parquet_file_is_zstd(spark, tiny_pages, zstd_run):
    """Stage snapshots, their manifests and the streaming state dirs after a
    batch and a deep compaction are all zstd."""
    wh, _pipe = zstd_run
    state = tempfile.mkdtemp(prefix="stream-zstd-")
    inc = IncrementalNearDedup(spark, state, DedupConfig(shuffle_partitions=8), n_state_buckets=8)
    try:
        inc.process_batch(pipeline_input(tiny_pages), 0)
        inc.compact(deep=True)
    finally:
        caching.release_all()
    snap = _codecs(wh)
    assert sum(p.endswith("manifest.parquet") for p in snap) == 5
    streamed = _codecs(state)
    for d in (inc.sig_dir, inc.new_dir, inc.bucket_dir, inc.docsig_dir, inc.cluster_dir, inc.edge_dir):
        assert any(p.startswith(d + os.sep) for p in streamed), d
    bad = {p: c for p, c in {**snap, **streamed}.items() if c != {"ZSTD"}}
    assert not bad
    # one state layout: every edge-state file carries the epoch column
    edge_files = [p for p in streamed if p.startswith(inc.edge_dir + os.sep)]
    assert all("epoch" in pq.read_schema(p).names for p in edge_files)
    # one commit record: the snapshot log, no pointer or per-snapshot meta file
    stray = [
        os.path.join(r, f)
        for r, _d, fs in os.walk(wh)
        for f in fs
        if f in ("_LATEST", "_meta.json")
    ]
    assert not stray
    shutil.rmtree(state)


def test_resume_over_snappy_snapshots_matches_zstd_run(spark, tiny_pages, zstd_run):
    """A warehouse whose first two snapshots are snappy resumes the rest
    under zstd, with the clusters of an all-zstd run."""
    _wh, fresh = zstd_run
    wh = tempfile.mkdtemp(prefix="wh-mixed-")
    pipe = DedupPipeline(spark, CheckpointStore(spark, wh), DedupConfig(), input_fingerprint="zs")
    pages = pipeline_input(tiny_pages)
    prev = spark.conf.get(CODEC)
    spark.conf.set(CODEC, "snappy")
    try:
        pipe.run(pages, stages=("extract", "signatures"))
    finally:
        spark.conf.set(CODEC, prev)
    r = pipe.run(pages)
    assert r.timings["extract"] == 0.0 and r.timings["signatures"] == 0.0
    assert r.timings["components"] > 0
    codecs = _codecs(wh)
    for stage, want in (("extract", "SNAPPY"), ("signatures", "SNAPPY"), ("edges", "ZSTD")):
        files = [c for p, c in codecs.items() if f"{os.sep}{stage}{os.sep}" in p]
        assert files and all(c == {want} for c in files), stage
    assert _clusters(pipe) == _clusters(fresh)
    shutil.rmtree(wh)


def test_streaming_state_with_snappy_batch0_links_and_deep_compacts(spark):
    """Batch 0 written under snappy, batch 1 under zstd: the near-dup links
    to the stored doc and deep compaction runs over the mixed dirs."""
    state = tempfile.mkdtemp(prefix="stream-mixed-")
    inc = IncrementalNearDedup(spark, state, DedupConfig(shuffle_partitions=8), n_state_buckets=8)
    words = [f"tok{i:03d}" for i in range(200)]
    ts = datetime.datetime(2026, 1, 1)

    def page(url, text):
        return Row(url=url, warc_ts=ts, html=bytearray(render_html(text, "t")), lang="en")

    prev = spark.conf.get(CODEC)
    spark.conf.set(CODEC, "snappy")
    try:
        inc.process_batch(spark.createDataFrame([page("https://a.test/1", " ".join(words))]), 0)
    finally:
        spark.conf.set(CODEC, prev)
    assert set().union(*_codecs(inc.docsig_dir).values()) == {"SNAPPY"}
    near = " ".join(words[:-2] + ["changed", "ending"])
    inc.process_batch(spark.createDataFrame([page("https://a-mirror.test/1", near)]), 1)
    assert set().union(*_codecs(inc.docsig_dir).values()) == {"SNAPPY", "ZSTD"}
    ids = dict(
        spark.createDataFrame(
            [("https://a.test/1",), ("https://a-mirror.test/1",)], "url string"
        ).select("url", F.xxhash64("url")).collect()
    )
    a, mirror = ids["https://a.test/1"], ids["https://a-mirror.test/1"]
    cl = {r["doc_id"]: r["cluster_id"] for r in inc.clusters().collect()}
    assert cl[mirror] == cl[a] == a
    inc.compact(deep=True)
    cl = {r["doc_id"]: r["cluster_id"] for r in inc.clusters().collect()}
    assert cl[mirror] == cl[a]
    shutil.rmtree(state)


def test_path_bytes_is_none_when_unknown_or_zero(spark):
    root = tempfile.mkdtemp(prefix="probe-")
    assert path_bytes(spark, os.path.join(root, "missing")) is None
    os.makedirs(os.path.join(root, "empty"))
    assert path_bytes(spark, os.path.join(root, "empty")) is None
    spark.range(10).write.parquet(os.path.join(root, "t.parquet"))
    n = path_bytes(spark, os.path.join(root, "t.parquet"))
    assert n is not None and n > 0
    shutil.rmtree(root)


def _has_exchange(df) -> bool:
    return "Exchange" in df._jdf.queryExecution().executedPlan().toString()


def test_t_par_adds_no_exchange_when_size_unknown(spark, monkeypatch):
    import __spark_entry__ as E

    root = tempfile.mkdtemp(prefix="tpar-")
    spark.range(100).write.parquet(os.path.join(root, "t.parquet"))
    # a tiny table is repartitioned to feed every core ...
    assert _has_exchange(E._t_par(spark, root, "t", key="id"))
    # ... but not when its size cannot be measured
    monkeypatch.setattr(E, "path_bytes", lambda spark, path: None)
    assert not _has_exchange(E._t_par(spark, root, "t", key="id"))
    shutil.rmtree(root)


def test_entry_dedup_adds_no_repartition_when_size_unknown(spark, monkeypatch):
    """The entry queries gate their documents repartition through ``_t_par``:
    with an unknown table size the plan has no round-robin exchange."""
    import __spark_entry__ as E

    root = tempfile.mkdtemp(prefix="entry-par-")
    spark.createDataFrame(
        [(i, f"doc {i} " + " ".join(f"w{j}" for j in range(i, i + 12))) for i in range(20)],
        "doc_id long, text string",
    ).write.parquet(os.path.join(root, "documents.parquet"))
    monkeypatch.setattr(E, "path_bytes", lambda spark, path: None)
    try:
        plan = E.q_dedup_minhash_lsh(spark, root)._jdf.queryExecution().executedPlan().toString()
    finally:
        E.release_caches()
    assert "RoundRobinPartitioning" not in plan
    shutil.rmtree(root)
