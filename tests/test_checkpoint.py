"""Resumability + lineage tests (SURVEY.md §5 pyramid level 4)."""

import json
import os
import shutil
import tempfile

from pyspark.sql import functions as F

from infoscience_imports_spark.config import DedupConfig
from infoscience_imports_spark.plans.pipeline import DedupPipeline, STAGES
from infoscience_imports_spark.sources.catalog import CheckpointStore
from infoscience_imports_spark.sources.synthetic import pipeline_input


def test_resume_skips_committed_stages(spark, tiny_pages):
    wh = tempfile.mkdtemp(prefix="wh-ck1-")
    store = CheckpointStore(spark, wh)
    pipe = DedupPipeline(spark, store, DedupConfig(), input_fingerprint="ck200")
    pages = pipeline_input(tiny_pages)
    r1 = pipe.run(pages)
    assert all(r1.timings[s] > 0 for s in STAGES)
    r2 = pipe.run(pages)
    assert all(r2.timings[s] == 0.0 for s in STAGES)
    shutil.rmtree(wh)


def test_resume_after_stage_loss_is_byte_identical(spark, tiny_pages):
    wh = tempfile.mkdtemp(prefix="wh-ck2-")
    store = CheckpointStore(spark, wh)
    pipe = DedupPipeline(spark, store, DedupConfig(), input_fingerprint="ck200")
    pages = pipeline_input(tiny_pages)
    pipe.run(pages)
    before = sorted((r["doc_id"], r["cluster_id"]) for r in pipe.clusters().collect())
    # simulate a crash that lost the two downstream stages
    shutil.rmtree(os.path.join(wh, "edges"))
    shutil.rmtree(os.path.join(wh, "components"))
    r = pipe.run(pages)
    assert r.timings["extract"] == 0.0 and r.timings["edges"] > 0
    after = sorted((r2["doc_id"], r2["cluster_id"]) for r2 in pipe.clusters().collect())
    assert before == after
    shutil.rmtree(wh)


def test_manifest_lineage_covers_all_stages(spark, tiny_pages):
    wh = tempfile.mkdtemp(prefix="wh-ck3-")
    store = CheckpointStore(spark, wh)
    pipe = DedupPipeline(spark, store, DedupConfig(), input_fingerprint="ck200")
    pipe.run(pipeline_input(tiny_pages))
    m = store.manifest()
    stages = {r["stage"] for r in m.select("stage").distinct().collect()}
    assert stages == set(STAGES)
    cols = set(m.columns)
    assert {"file", "rows", "checksum", "min_key", "max_key", "run_id", "stage"} <= cols
    # row counts in the manifest must equal actual stage row counts
    for st in STAGES:
        manifest_rows = (
            m.filter(F.col("stage") == st).agg(F.sum("rows")).collect()[0][0]
        )
        actual = store.read(st, pipe.fingerprint(st)).count()
        assert manifest_rows == actual, st
    shutil.rmtree(wh)


def test_snapshot_log_and_time_travel(spark):
    """Iceberg table contract: snapshot ids chain, old versions stay readable."""
    wh = tempfile.mkdtemp(prefix="wh-ck5-")
    store = CheckpointStore(spark, wh)
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    v2 = spark.createDataFrame([(1, "a2"), (3, "c")], "id long, v string")
    i1 = store.write("tbl", v1, "fp1", key_col="id")
    i2 = store.write("tbl", v2, "fp2", key_col="id")
    assert (i1.snapshot_id, i2.snapshot_id) == (1, 2)
    log = store.snapshots("tbl")
    assert [e["parent_id"] for e in log] == [None, 1]
    assert [e["operation"] for e in log] == ["replace", "replace"]
    # time travel by snapshot id and by timestamp
    assert {r["v"] for r in store.read_snapshot("tbl", 1).collect()} == {"a", "b"}
    assert {r["v"] for r in store.read_snapshot("tbl", 2).collect()} == {"a2", "c"}
    as_of = store.read_as_of("tbl", log[0]["committed_at"])
    assert {r["v"] for r in as_of.collect()} == {"a", "b"}
    # latest pointer still reads v2
    assert {r["v"] for r in store.read("tbl").collect()} == {"a2", "c"}
    # resumability accepts any committed fingerprint, not just the latest
    assert store.has_snapshot("tbl", "fp1") and store.has_snapshot("tbl", "fp2")
    shutil.rmtree(wh)


def test_expire_snapshots_keeps_latest(spark):
    wh = tempfile.mkdtemp(prefix="wh-ck6-")
    store = CheckpointStore(spark, wh)
    for i in range(4):
        store.write("tbl", spark.range(i + 1), f"fp{i}", key_col="id")
    expired = store.expire_snapshots("tbl", keep_last=2)
    assert expired == [1, 2]
    # expired versions fail loudly; retained ones still read
    assert store.read_snapshot("tbl", 4).count() == 4
    assert store.read_snapshot("tbl", 3).count() == 3
    import pytest as _pytest

    with _pytest.raises(Exception):
        store.read_snapshot("tbl", 1).count()
    shutil.rmtree(wh)


def test_recommit_fingerprint_expires_stale_snapshot_ids(spark):
    """Overwriting a fingerprint (resume=False rerun) must not let earlier
    snapshot ids silently time-travel to the NEW data: superseded entries are
    marked expired and read_snapshot on them fails explicitly."""
    wh = tempfile.mkdtemp(prefix="wh-ck8-")
    store = CheckpointStore(spark, wh)
    store.write("tbl", spark.createDataFrame([(1, "old")], "id long, v string"), "fpA", key_col="id")
    store.write("tbl", spark.range(5), "fpB", key_col="id")
    # re-commit fpA with different data — snapshot 1's dir is replaced
    store.write("tbl", spark.createDataFrame([(9, "new")], "id long, v string"), "fpA", key_col="id")
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError, match="expired"):
        store.read_snapshot("tbl", 1)
    # the re-committed snapshot (id 3) reads the new data; fpB untouched
    assert [r["v"] for r in store.read_snapshot("tbl", 3).collect()] == ["new"]
    assert store.read_snapshot("tbl", 2).count() == 5
    # read_as_of skips the expired entry instead of resolving to it: as of
    # snapshot 1's commit time nothing live exists (explicit failure), as of
    # snapshot 2's commit time the live snapshot 2 wins over expired 1
    log = store.snapshots("tbl")
    with _pytest.raises(FileNotFoundError):
        store.read_as_of("tbl", log[0]["committed_at"])
    assert store.read_as_of("tbl", log[1]["committed_at"]).count() == 5
    shutil.rmtree(wh)


def test_merge_into_upsert_and_schema_evolution(spark):
    """MERGE INTO: matched rows coalesce + bump seen_count, unmatched insert;
    a new source column is added (old rows NULL), absent columns preserved."""
    wh = tempfile.mkdtemp(prefix="wh-ck7-")
    store = CheckpointStore(spark, wh)
    base = spark.createDataFrame(
        [("k1", "t1", 2020), ("k2", None, 2021)], "pub_id string, title string, year int"
    )
    store.write("pubs", base, "fp-base", key_col="pub_id")
    src = spark.createDataFrame(
        [("k2", "t2-new", "WOS"), ("k3", "t3", "SCO")],
        "pub_id string, title string, source string",  # no year; new col source
    )
    info = store.merge_into("pubs", src, key_col="pub_id")
    assert info.snapshot_id == 2
    rows = {r["pub_id"]: r for r in store.read("pubs").collect()}
    assert set(rows) == {"k1", "k2", "k3"}
    # matched: new non-null wins, old preserved where source is null
    assert rows["k2"]["title"] == "t2-new" and rows["k2"]["year"] == 2021
    assert rows["k2"]["seen_count"] == 2 and rows["k1"]["seen_count"] == 1
    # schema evolution both directions
    assert rows["k1"]["source"] is None and rows["k3"]["source"] == "SCO"
    assert rows["k3"]["year"] is None
    # unmatched insert
    assert rows["k3"]["title"] == "t3"
    # the merge snapshot's log entry carries the evolved schema
    logged = json.loads(store.snapshots("pubs")[-1]["schema"])
    assert "source" in [f["name"] for f in logged["fields"]]
    # snapshot log records the merge and the pre-merge version still reads
    ops = [e["operation"] for e in store.snapshots("pubs")]
    assert ops == ["replace", "merge"]
    pre = store.read_snapshot("pubs", 1)
    assert pre.count() == 2 and "source" not in pre.columns
    # a second merge of the same source doubles seen_count only for its keys
    store.merge_into("pubs", src, key_col="pub_id")
    rows2 = {r["pub_id"]: r for r in store.read("pubs").collect()}
    assert rows2["k2"]["seen_count"] == 3 and rows2["k1"]["seen_count"] == 1
    shutil.rmtree(wh)


def test_read_uses_logged_schema_without_inference_job(spark, jobs_submitted):
    """A commit records its schema in the snapshot log, so read() and
    read_snapshot() build the scan without a schema-inference job; a log
    entry without a schema (older warehouse) still reads by inference."""
    wh = tempfile.mkdtemp(prefix="wh-ck9-")
    store = CheckpointStore(spark, wh)
    df = spark.createDataFrame(
        [(1, "a", [1, 2]), (2, None, [])], "id long, v string, a array<long>"
    )
    store.write("tbl", df, "fp1", key_col="id")
    (latest, by_id), jobs = jobs_submitted(
        lambda: (store.read("tbl"), store.read_snapshot("tbl", 1))
    )
    assert jobs == []
    inferred = spark.read.parquet(os.path.join(store._snap_dir("tbl", "fp1"), "data"))
    assert latest.schema == by_id.schema == inferred.schema
    assert sorted(latest.collect()) == sorted(inferred.collect())

    log = store._log_file("tbl")
    with open(log) as f:
        entries = json.load(f)
    del entries[0]["schema"]
    with open(log, "w") as f:
        json.dump(entries, f)
    assert sorted(r["id"] for r in store.read("tbl").collect()) == [1, 2]
    assert store.read_snapshot("tbl", 1).schema == inferred.schema
    shutil.rmtree(wh)


def test_config_change_invalidates_fingerprints(spark):
    wh = tempfile.mkdtemp(prefix="wh-ck4-")
    store = CheckpointStore(spark, wh)
    p1 = DedupPipeline(spark, store, DedupConfig(), input_fingerprint="x")
    p2 = DedupPipeline(spark, store, DedupConfig(jaccard_threshold=0.9), input_fingerprint="x")
    assert p1.fingerprint("edges") != p2.fingerprint("edges")
    # but input identity is part of the chain too
    p3 = DedupPipeline(spark, store, DedupConfig(), input_fingerprint="y")
    assert p1.fingerprint("extract") != p3.fingerprint("extract")
    shutil.rmtree(wh)
