"""Resumability + lineage tests (SURVEY.md §5 pyramid level 4)."""

import json
import os
import shutil
import tempfile
import threading

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from infoscience_imports_spark.config import DedupConfig
from infoscience_imports_spark.plans.pipeline import DedupPipeline, STAGES
from infoscience_imports_spark.sources import catalog
from infoscience_imports_spark.sources.catalog import CheckpointStore
from infoscience_imports_spark.sources.synthetic import pipeline_input


@pytest.fixture(scope="module")
def committed(spark, tiny_pages):
    """One uninterrupted run over tiny_pages: (pipeline, its result)."""
    wh = tempfile.mkdtemp(prefix="wh-ck1-")
    pipe = DedupPipeline(spark, CheckpointStore(spark, wh), DedupConfig(), input_fingerprint="ck200")
    yield pipe, pipe.run(pipeline_input(tiny_pages))
    shutil.rmtree(wh)


def _clusters(pipe: DedupPipeline) -> list:
    return sorted((r["doc_id"], r["cluster_id"]) for r in pipe.clusters().collect())


def test_resume_skips_committed_stages(tiny_pages, committed):
    pipe, r1 = committed
    assert all(r1.timings[s] > 0 for s in STAGES)
    r2 = pipe.run(pipeline_input(tiny_pages))
    assert all(r2.timings[s] == 0.0 for s in STAGES)


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


def test_manifest_lineage_covers_all_stages(committed):
    pipe, _ = committed
    store = pipe.store
    m = store.manifest()
    stages = {r["stage"] for r in m.select("stage").distinct().collect()}
    assert stages == set(STAGES)
    cols = set(m.columns)
    assert {"file", "rows", "min_key", "max_key", "run_id", "stage"} <= cols
    # row counts in the manifest must equal actual stage row counts
    for st in STAGES:
        manifest_rows = (
            m.filter(F.col("stage") == st).agg(F.sum("rows")).collect()[0][0]
        )
        actual = store.read(st, pipe.fingerprint(st)).count()
        assert manifest_rows == actual, st


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
    # read_as_of compares instants, however the caller writes the time
    log[0]["committed_at"] = "2026-10-19T18:25:00.123456+00:00"
    log[1]["committed_at"] = "2026-10-19T19:25:00+00:00"
    store._save_log("tbl", log)
    for before in ("2026-10-19T18:25:00Z", "2026-10-19T19:00:00+02:00"):
        with pytest.raises(FileNotFoundError):
            store.read_as_of("tbl", before)
    # a naive time is UTC, the session time zone
    as_of = store.read_as_of("tbl", "2026-10-19 18:30:00")
    assert {r["v"] for r in as_of.collect()} == {"a", "b"}
    shutil.rmtree(wh)


def test_expire_snapshots_keeps_latest(spark):
    wh = tempfile.mkdtemp(prefix="wh-ck6-")
    store = CheckpointStore(spark, wh)
    for i in range(4):
        store.write("tbl", spark.range(i + 1), f"fp{i}", key_col="id")
    expired = store.expire_snapshots("tbl", keep_last=2)
    assert expired == [1, 2]
    assert not any(os.path.exists(e["path"]) for e in store.snapshots("tbl")[:2])
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
    # the superseded snapshot's dir went with its entry
    assert not os.path.exists(log[0]["path"])
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
    read_snapshot() build the scan without a schema-inference job."""
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
    inferred = spark.read.parquet(os.path.join(store.snapshots("tbl")[-1]["path"], "data"))
    assert latest.schema == by_id.schema == inferred.schema
    assert sorted(latest.collect()) == sorted(inferred.collect())
    shutil.rmtree(wh)


class _FailOnce:
    """Raises on the first call whose arguments match ``when``, then
    delegates to ``fn``: one injected crash per test step."""

    def __init__(self, fn, when=lambda *a: True):
        self.fn, self.when, self.fired = fn, when, False

    def __call__(self, *args, **kwargs):
        if not self.fired and self.when(*args):
            self.fired = True
            raise OSError("injected crash")
        return self.fn(*args, **kwargs)


class _CatalogOs:
    """The ``os`` module as ``sources.catalog`` sees it, with overrides."""

    def __init__(self, **overrides):
        self.__dict__.update(overrides)

    def __getattr__(self, name):
        return getattr(os, name)


def test_commit_crash_at_each_step_leaves_previous_snapshot(spark, monkeypatch):
    """The snapshot log's replace is the single commit point: a crash after
    the data write or at the log replace leaves the new fingerprint
    uncommitted and the latest one unchanged."""
    wh = tempfile.mkdtemp(prefix="wh-crash-")
    store = CheckpointStore(spark, wh)
    store.write("tbl", spark.range(3), "fp0", key_col="id")
    crashes = {
        "after data write": (pq, "write_table", _FailOnce(pq.write_table)),
        "log replace": (catalog, "os", _CatalogOs(replace=_FailOnce(os.replace))),
    }
    for step, (target, name, fault) in crashes.items():
        fp = f"fp-{step.replace(' ', '-')}"
        with monkeypatch.context() as m:
            m.setattr(target, name, fault)
            with pytest.raises(OSError, match="injected"):
                store.write("tbl", spark.range(5), fp, key_col="id")
        assert not store.has_snapshot("tbl", fp), step
        assert store.latest_fingerprint("tbl") == "fp0", step
        assert store.rows("tbl") == 3, step
        with pytest.raises(FileNotFoundError):
            store.read("tbl", fp)
    # the crashed fingerprint commits cleanly on retry
    store.write("tbl", spark.range(5), "fp-log-replace", key_col="id")
    assert store.latest_fingerprint("tbl") == "fp-log-replace"
    assert store.read("tbl").count() == 5
    shutil.rmtree(wh)


def test_recommit_crash_at_log_replace_keeps_committed_data(spark, monkeypatch):
    """A re-commit of a fingerprint writes its own dir, so a crash at its
    log replace leaves the live entry naming the data it committed."""
    wh = tempfile.mkdtemp(prefix="wh-recrash-")
    store = CheckpointStore(spark, wh)
    store.write("tbl", spark.range(3), "fp", key_col="id")
    with monkeypatch.context() as m:
        m.setattr(catalog, "os", _CatalogOs(replace=_FailOnce(os.replace)))
        with pytest.raises(OSError, match="injected"):
            store.write("tbl", spark.range(5), "fp", key_col="id")
    assert store.has_snapshot("tbl", "fp")
    assert store.read("tbl").count() == 3
    assert store.rows("tbl") == 3
    shutil.rmtree(wh)


def test_crashed_commits_then_retry_leave_one_snapshot_dir(spark, monkeypatch):
    """A crashed commit's dir is named by no entry and the next commit of
    the stage takes the same snapshot id, so it overwrites that dir."""
    wh = tempfile.mkdtemp(prefix="wh-retry-")
    store = CheckpointStore(spark, wh)
    faults = (
        (pq, "write_table", _FailOnce(pq.write_table)),
        (catalog, "os", _CatalogOs(replace=_FailOnce(os.replace))),
    )
    for target, name, fault in faults:
        with monkeypatch.context() as m:
            m.setattr(target, name, fault)
            with pytest.raises(OSError, match="injected"):
                store.write("tbl", spark.range(7), "fp", key_col="id")
    store.write("tbl", spark.range(5), "fp", key_col="id")
    stage_dir = os.path.join(wh, "tbl")
    assert [d for d in os.listdir(stage_dir) if d.startswith("snap-")] == ["snap-1"]
    assert store.read("tbl").count() == 5
    shutil.rmtree(wh)


class _RowsOffByOne:
    """A Parquet footer whose ``num_rows`` is one more than the file's."""

    def __init__(self, md):
        self._md, self.num_rows = md, md.num_rows + 1

    def __getattr__(self, name):
        return getattr(self._md, name)


def test_footer_rows_disagreeing_with_observed_rows_commit_nothing(spark, monkeypatch):
    wh = tempfile.mkdtemp(prefix="wh-footer-")
    store = CheckpointStore(spark, wh)
    store.write("tbl", spark.range(3), "fp0", key_col="id")
    real = pq.read_metadata
    with monkeypatch.context() as m:
        m.setattr(pq, "read_metadata", lambda path: _RowsOffByOne(real(path)))
        with pytest.raises(RuntimeError, match="not committed"):
            store.write("tbl", spark.range(5), "fp1", key_col="id")
    assert not store.has_snapshot("tbl", "fp1")
    assert store.latest_fingerprint("tbl") == "fp0" and store.rows("tbl") == 3
    shutil.rmtree(wh)


def test_empty_frames_commit_zero_rows(spark):
    """``spark.range(0)`` and a ``limit(0)`` frame (the no-edges shape of
    ``connected_components``) commit 0 rows without waiting forever on the
    observed metrics."""
    wh = tempfile.mkdtemp(prefix="wh-empty-")
    store = CheckpointStore(spark, wh)
    frames = {"range0": spark.range(0), "limit0": spark.range(5).limit(0)}
    done = {}

    def commit():
        for name, df in frames.items():
            done[name] = store.write(name, df, "fp", key_col="id").rows

    worker = threading.Thread(target=commit, daemon=True)
    worker.start()
    worker.join(timeout=120)
    assert not worker.is_alive()
    assert done == {"range0": 0, "limit0": 0}
    for name in frames:
        entry = store.live_entry(name)
        assert (entry["rows"], entry["checksum"]) == (0, 0)
        assert store.read(name).count() == 0
    shutil.rmtree(wh)


def test_commit_is_one_spark_job(spark, jobs_submitted):
    """The data write is the commit's only job: statistics are observed
    during it and the manifest comes from the Parquet footers."""
    wh = tempfile.mkdtemp(prefix="wh-onejob-")
    store = CheckpointStore(spark, wh)
    _info, jobs = jobs_submitted(lambda: store.write("t", spark.range(5), "fp", key_col="id"))
    assert len(jobs) == 1
    shutil.rmtree(wh)


def test_manifest_matches_input_file_name_reference(spark):
    """Per file, the footer-built manifest equals a ``groupBy`` over
    ``input_file_name()`` of the committed files, and the logged checksum
    is the sum of the reference's per-file checksums. Partition 0 is empty,
    so the snapshot holds a 0-row file that neither side lists."""
    wh = tempfile.mkdtemp(prefix="wh-lineage-")
    store = CheckpointStore(spark, wh)
    df = spark.range(0, 40, 1, 4).filter("id >= 10").select(
        "id", F.format_string("k%03d", (F.col("id") * 7) % 40).alias("k")
    )
    for key in ("id", "k"):
        store.write(key, df, "fp", key_col=key)
        entry = store.live_entry(key)
        data_dir = os.path.join(entry["path"], "data")
        assert any(pq.read_metadata(os.path.join(data_dir, f)).num_rows == 0
                   for f in os.listdir(data_dir) if f.endswith(".parquet"))
        ref = (
            spark.read.parquet(data_dir)
            .groupBy(F.input_file_name().alias("file"))
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.sum(F.pmod(F.xxhash64(key), F.lit(1 << 31))).alias("checksum"),
                F.min(key).cast("string").alias("min_key"),
                F.max(key).cast("string").alias("max_key"),
            )
            .collect()
        )
        got = {r["file"]: (r["rows"], r["min_key"], r["max_key"]) for r in store.manifest(key).collect()}
        assert got == {r["file"]: (r["rows"], r["min_key"], r["max_key"]) for r in ref}, key
        assert entry["rows"] == sum(r["rows"] for r in ref) == 30
        assert entry["checksum"] == sum(r["checksum"] for r in ref), key
    shutil.rmtree(wh)


def test_relative_warehouse_commits_with_input_file_name_uris(spark, monkeypatch):
    """A warehouse given as a relative path commits: the manifest's file
    URIs equal ``input_file_name()`` of the committed files."""
    tmp = tempfile.mkdtemp(prefix="wh-rel-")
    monkeypatch.chdir(tmp)
    store = CheckpointStore(spark, "wh")
    store.write("t", spark.range(0, 10, 1, 2), "fp", key_col="id")
    entry = store.live_entry("t")
    assert entry["path"].startswith(tmp) and store.read("t").count() == 10
    ref = spark.read.parquet(os.path.join(entry["path"], "data")).groupBy(
        F.input_file_name().alias("file")
    ).count()
    assert sorted(r["file"] for r in store.manifest("t").collect()) == sorted(
        r["file"] for r in ref.collect()
    )
    shutil.rmtree(tmp)


def test_edges_entry_records_candidate_pairs_gate(spark, tiny_pages, capsys, monkeypatch):
    """Above the broadcast limit the edges log entry records the measured
    candidate count, the limit and the shuffle branch; ``cli manifest``
    prints the record."""
    from infoscience_imports_spark import cli

    wh = tempfile.mkdtemp(prefix="wh-gates-")
    pipe = DedupPipeline(
        spark, CheckpointStore(spark, wh), DedupConfig(broadcast_pair_limit=0),
        input_fingerprint="gates",
    )
    pipe.run(pipeline_input(tiny_pages), stages=STAGES[:4])
    gate = pipe.store.live_entry("edges")["gates"]["candidate_pairs"]
    assert gate == {
        "value": pipe.metrics["candidate_pairs"],
        "threshold": 0,
        "branch": "shuffle",
    }
    assert gate["value"] > 0
    capsys.readouterr()
    monkeypatch.setattr(cli, "get_spark", lambda **kw: spark)
    assert cli.main(["manifest", "--warehouse", wh, "--stage", "edges"]) == 0
    printed = json.loads(capsys.readouterr().out.splitlines()[0])
    assert printed["gates"] == {"candidate_pairs": gate}
    shutil.rmtree(wh)


def test_resume_after_crash_at_edges_commit_matches_uninterrupted_run(
    spark, tiny_pages, committed, monkeypatch
):
    """A run that crashes at the edges log replace resumes from the
    committed buckets snapshot to the clusters of an uninterrupted run, and
    the crashed run leaves the session's scan split size as it found it."""
    split = "spark.sql.files.maxPartitionBytes"
    split_before = spark.conf.get(split)
    pages = pipeline_input(tiny_pages)
    wh = tempfile.mkdtemp(prefix="wh-crash-run-")
    pipe = DedupPipeline(spark, CheckpointStore(spark, wh), DedupConfig(), input_fingerprint="ck200")
    edges_log = os.path.join(wh, "edges", "snapshot-log.json")
    fault = _FailOnce(os.replace, when=lambda src, dst: dst == edges_log)
    with monkeypatch.context() as m:
        m.setattr(catalog, "os", _CatalogOs(replace=fault))
        with pytest.raises(OSError, match="injected"):
            pipe.run(pages)
    assert fault.fired and not pipe.store.has_snapshot("edges", pipe.fingerprint("edges"))
    assert spark.conf.get(split) == split_before
    r = pipe.run(pages)
    assert r.timings["buckets"] == 0.0 and r.timings["edges"] > 0
    assert _clusters(pipe) == _clusters(committed[0])
    shutil.rmtree(wh)


def test_copied_warehouse_reads_and_expires_only_its_own_snapshots(spark):
    """Log entries keep the absolute ``path`` they were committed with; a
    copy of the warehouse still reads its own files and, on a re-commit,
    deletes only its own superseded dir, never the original's."""
    wh = tempfile.mkdtemp(prefix="wh-orig-")
    orig = CheckpointStore(spark, wh)
    orig.write("extract", spark.range(3), "fp", key_col="id")
    copy_wh = tempfile.mkdtemp(prefix="wh-copy-")
    shutil.copytree(wh, copy_wh, dirs_exist_ok=True)
    copy = CheckpointStore(spark, copy_wh)
    files = copy.read("extract").inputFiles()
    assert files and all(copy_wh in f for f in files)
    copy.write("extract", spark.range(5), "fp", key_col="id")
    assert os.path.isdir(os.path.join(wh, "extract", "snap-1"))
    assert orig.read("extract").count() == 3 and orig.has_snapshot("extract", "fp")
    assert not os.path.isdir(os.path.join(copy_wh, "extract", "snap-1"))
    assert copy.read("extract").count() == 5
    assert copy.manifest("extract").agg(F.sum("rows")).first()[0] == 5
    shutil.rmtree(wh)
    shutil.rmtree(copy_wh)


def test_copied_warehouse_manifest_names_only_its_own_files(spark):
    """The manifest names data files relative to their snapshot, so a
    copied warehouse's lineage lists the copy's files, spelled as
    ``input_file_name()`` spells them; a manifest that stored URIs (written
    before relative names) is returned as stored."""
    wh = tempfile.mkdtemp(prefix="wh-orig-")
    CheckpointStore(spark, wh).write("t", spark.range(0, 10, 1, 2), "fp", key_col="id")
    copy_wh = tempfile.mkdtemp(prefix="wh-copy-")
    shutil.copytree(wh, copy_wh, dirs_exist_ok=True)
    copy = CheckpointStore(spark, copy_wh)
    files = sorted(r["file"] for r in copy.manifest("t").collect())
    ref = copy.read("t").select(F.input_file_name().alias("f")).distinct()
    assert len(files) == 2 and files == sorted(r["f"] for r in ref.collect())
    assert all(copy_wh in f and wh not in f for f in files)
    # a manifest committed with URIs in ``file`` reads unchanged
    man = os.path.join(copy.snapshot_dir("t", copy.live_entry("t")), "manifest.parquet")
    old = pq.read_table(man)
    uris = [f"file://{wh}/t/snap-1/data/{n}" for n in old.column("file").to_pylist()]
    pq.write_table(old.set_column(0, "file", pa.array(uris)), man)
    assert sorted(r["file"] for r in copy.manifest("t").collect()) == sorted(uris)
    shutil.rmtree(wh)
    shutil.rmtree(copy_wh)


def test_pipeline_run_sets_no_spark_conf(spark, tiny_pages, monkeypatch):
    """Every scan follows the session's one split policy: a full run sets
    no runtime conf."""
    from pyspark.sql.conf import RuntimeConfig

    calls = []
    monkeypatch.setattr(RuntimeConfig, "set", lambda self, k, v: calls.append((k, v)))
    wh = tempfile.mkdtemp(prefix="wh-noconf-")
    pipe = DedupPipeline(spark, CheckpointStore(spark, wh), DedupConfig(), input_fingerprint="ck200")
    r = pipe.run(pipeline_input(tiny_pages))
    assert all(r.timings[s] > 0 for s in STAGES)
    assert calls == []
    shutil.rmtree(wh)


def test_shuffle_partitions_leaves_fingerprints_unchanged(spark):
    """No operator reads ``shuffle_partitions``, so a resume at another
    session width reuses every snapshot; a config field that shapes output
    still changes every fingerprint."""
    store = CheckpointStore(spark, tempfile.mkdtemp(prefix="wh-fp-"))

    def fps(cfg):
        pipe = DedupPipeline(spark, store, cfg, input_fingerprint="x")
        return [pipe.fingerprint(s) for s in STAGES]

    assert fps(DedupConfig(shuffle_partitions=8)) == fps(DedupConfig(shuffle_partitions=16))
    changed = fps(DedupConfig(shuffle_partitions=8, jaccard_threshold=0.9))
    assert all(a != b for a, b in zip(fps(DedupConfig(shuffle_partitions=8)), changed))
    shutil.rmtree(store.warehouse)


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
