"""Checkpoint store: atomic snapshot commits + per-partition lineage/metrics.

Generalizes the reference's per-stage CSV artifacts + DuckDB run bookkeeping
(``data_pipeline/main.py:148-161``, ``db/pipeline_db.py:140-149, 441-460``)
into a table-format contract:

  {warehouse}/{stage}/snap-{fingerprint}/data/*.parquet   -- stage output
  {warehouse}/{stage}/snap-{fingerprint}/manifest.parquet -- per-file lineage
  {warehouse}/{stage}/_LATEST                             -- committed pointer

Commits are atomic: data lands in a temp dir, the pointer file is written
last via rename — a crashed run leaves no half-visible snapshot, so any stage
is resumable (north_rule). ``fingerprint`` chains the upstream fingerprint +
stage config, so resume only reuses a snapshot whose entire ancestry matches.

This container has no Iceberg runtime jars; on a cluster with Iceberg the
same contract maps 1:1 onto ``writeTo(...).createOrReplace()`` snapshots +
a manifest table — the store keeps that swap behind one class
(``IcebergTableStore`` below is that adapter).

The Iceberg *table contract* itself is implemented and tested here, not just
claimed: every commit appends to an atomic per-stage snapshot log
(``snapshot-log.json`` — the metadata-file analogue) carrying
``snapshot_id``, ``parent_id``, operation, summary and the committed schema
(reads pass it to the scan, so no read pays a schema-inference job — the log
sits beside the snapshot dirs, not inside them); old snapshots stay
readable (time travel by snapshot id or timestamp) until
``expire_snapshots``; ``merge_into`` is a copy-on-write MERGE INTO with
schema evolution (new source columns are added, absent ones preserved).

Lineage rows (one per data file): rows, xxhash64-sum checksum, min/max of the
stage key — generalizing ``source_stats`` (``pipeline_db.py:145-149``).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def chain_fingerprint(*parts: str) -> str:
    import hashlib

    h = hashlib.blake2b(digest_size=12)
    for p in parts:
        h.update(p.encode("utf-8"))
        h.update(b"\x00")
    return h.hexdigest()


@dataclass
class SnapshotInfo:
    stage: str
    fingerprint: str
    path: str
    rows: int
    snapshot_id: int = 0


class CheckpointStore:
    def __init__(self, spark: SparkSession, warehouse: str, run_id: str | None = None):
        self.spark = spark
        self.warehouse = warehouse
        self.run_id = run_id or uuid.uuid4().hex[:12]
        os.makedirs(warehouse, exist_ok=True)

    # -- paths ---------------------------------------------------------------
    def _stage_dir(self, stage: str) -> str:
        return os.path.join(self.warehouse, stage)

    def _snap_dir(self, stage: str, fingerprint: str) -> str:
        return os.path.join(self._stage_dir(stage), f"snap-{fingerprint}")

    def _latest_file(self, stage: str) -> str:
        return os.path.join(self._stage_dir(stage), "_LATEST")

    def _log_file(self, stage: str) -> str:
        return os.path.join(self._stage_dir(stage), "snapshot-log.json")

    # -- snapshot log (Iceberg metadata-file analogue) -------------------------
    def snapshots(self, stage: str) -> list[dict]:
        """Committed snapshot history, oldest first (Iceberg snapshot log)."""
        log = self._log_file(stage)
        if not os.path.isfile(log):
            return []
        with open(log) as f:
            return json.load(f)

    def snapshot_log(self, stage: str) -> DataFrame:
        entries = self.snapshots(stage)
        if not entries:
            raise FileNotFoundError(f"no committed snapshots for stage {stage!r}")
        return self.spark.createDataFrame(
            [
                (
                    e["snapshot_id"],
                    e.get("parent_id"),
                    e["fingerprint"],
                    e["operation"],
                    e["committed_at"],
                    e["rows"],
                    e["run_id"],
                )
                for e in entries
            ],
            "snapshot_id long, parent_id long, fingerprint string, "
            "operation string, committed_at string, rows long, run_id string",
        )

    def _append_log(self, stage: str, entry: dict) -> None:
        entries = self.snapshots(stage)
        # Re-committing a fingerprint replaces the snapshot dir in place, so
        # any older log entry with the same fingerprint now points at NEW
        # data. Mark those entries expired: time travel to the stale id fails
        # explicitly instead of silently returning the new rows (the "old
        # snapshots stay readable until expire_snapshots" contract only holds
        # for snapshots whose data dirs still exist).
        for e in entries:
            if e["fingerprint"] == entry["fingerprint"] and not e.get("expired"):
                e["expired"] = True
                e["superseded_by"] = entry["snapshot_id"]
        entries.append(entry)
        tmp = self._log_file(stage) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(entries, f, indent=1)
        os.replace(tmp, self._log_file(stage))

    # -- commit / read -------------------------------------------------------
    def has_snapshot(self, stage: str, fingerprint: str) -> bool:
        snap = self._snap_dir(stage, fingerprint)
        if not os.path.isdir(os.path.join(snap, "data")):
            return False
        # any committed snapshot with this fingerprint is resumable (not just
        # the latest): the log records every commit, _LATEST kept for
        # pre-log warehouses
        if any(e["fingerprint"] == fingerprint for e in self.snapshots(stage)):
            return True
        latest = self._latest_file(stage)
        if not os.path.isfile(latest):
            return False
        with open(latest) as f:
            return f.read().strip() == fingerprint

    def write(
        self,
        stage: str,
        df: DataFrame,
        fingerprint: str,
        key_col: str | None = None,
        operation: str = "replace",
    ) -> SnapshotInfo:
        """Write df as a new snapshot; returns after the atomic commit."""
        snap = self._snap_dir(stage, fingerprint)
        tmp = snap + f".tmp-{uuid.uuid4().hex[:8]}"
        data_dir = os.path.join(tmp, "data")
        df.write.mode("overwrite").parquet(data_dir)

        # per-file lineage from the committed bytes (not the logical plan).
        # The checksum hashes the key column (order-insensitive sum) — full
        # row hashing would re-read every wide column a second time per stage.
        written = self.spark.read.schema(df.schema).parquet(data_dir)
        key = F.col(key_col) if key_col and key_col in written.columns else F.lit(None)
        # group on the raw file name; the tmp-dir -> final-path rewrite is a
        # per-FILE string fix applied after aggregation (a regexp_replace
        # inside the per-row projection costs ~5 us x rows — measured 32
        # JVM-CPU-seconds on one 6.4M-row commit)
        import re as _re

        manifest_rows = (
            written.select(
                F.input_file_name().alias("file"),
                key.alias("_k"),
            )
            .groupBy("file")
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.coalesce(
                    F.sum(F.pmod(F.xxhash64("_k"), F.lit(1 << 31))), F.lit(0)
                ).alias("checksum"),
                F.min("_k").cast("string").alias("min_key"),
                F.max("_k").cast("string").alias("max_key"),
            )
            .collect()
        )
        _fix = lambda p: _re.sub(r"\.tmp-[0-9a-f]+/", "/", p)  # noqa: E731
        # one row per data FILE (bounded by task count, ~10^4-10^5 even at
        # petabyte stages with AQE coalescing) — small enough to land on the
        # driver, so the manifest is written driver-side with pyarrow instead
        # of paying a second Spark job + read-back per stage commit
        import pyarrow as pa
        import pyarrow.parquet as pq
        from datetime import datetime, timezone

        committed_at = datetime.now(timezone.utc)
        table = pa.table(
            {
                "file": [_fix(r["file"]) for r in manifest_rows],
                "rows": [r["rows"] for r in manifest_rows],
                "checksum": [r["checksum"] for r in manifest_rows],
                "min_key": [r["min_key"] for r in manifest_rows],
                "max_key": [r["max_key"] for r in manifest_rows],
                "run_id": [self.run_id] * len(manifest_rows),
                "stage": [stage] * len(manifest_rows),
                "fingerprint": [fingerprint] * len(manifest_rows),
                "committed_at": [committed_at] * len(manifest_rows),
            },
            schema=pa.schema(
                [
                    ("file", pa.string()),
                    ("rows", pa.int64()),
                    ("checksum", pa.int64()),
                    ("min_key", pa.string()),
                    ("max_key", pa.string()),
                    ("run_id", pa.string()),
                    ("stage", pa.string()),
                    ("fingerprint", pa.string()),
                    ("committed_at", pa.timestamp("us", tz="UTC")),
                ]
            ),
        )
        pq.write_table(table, os.path.join(tmp, "manifest.parquet"))
        total = sum(r["rows"] for r in manifest_rows)
        with open(os.path.join(tmp, "_meta.json"), "w") as f:
            json.dump(
                {"stage": stage, "fingerprint": fingerprint, "rows": total, "run_id": self.run_id},
                f,
            )

        if os.path.isdir(snap):
            shutil.rmtree(snap)
        os.rename(tmp, snap)
        # log append + pointer write are the commit point (single-writer
        # atomic swap, same guarantee Iceberg gets from its catalog CAS)
        history = self.snapshots(stage)
        snap_id = (history[-1]["snapshot_id"] + 1) if history else 1
        parent = history[-1]["snapshot_id"] if history else None
        from datetime import datetime, timezone

        self._append_log(
            stage,
            {
                "snapshot_id": snap_id,
                "parent_id": parent,
                "fingerprint": fingerprint,
                "operation": operation,
                "committed_at": datetime.now(timezone.utc).isoformat(),
                "rows": total,
                "run_id": self.run_id,
                "path": snap,
                "schema": df.schema.json(),
            },
        )
        ptr_tmp = self._latest_file(stage) + ".tmp"
        with open(ptr_tmp, "w") as f:
            f.write(fingerprint)
        os.replace(ptr_tmp, self._latest_file(stage))
        return SnapshotInfo(stage, fingerprint, snap, total, snap_id)

    def _read_data(self, snap: str, entry: dict | None) -> DataFrame:
        """Scan a snapshot's data files with the schema its log entry
        recorded at commit — no schema-inference job. Entries written before
        the log carried a schema fall back to inference."""
        reader = self.spark.read
        if entry is not None and "schema" in entry:
            reader = reader.schema(StructType.fromJson(json.loads(entry["schema"])))
        return reader.parquet(os.path.join(snap, "data"))

    def read(self, stage: str, fingerprint: str | None = None) -> DataFrame:
        fp = fingerprint or self.latest_fingerprint(stage)
        if fp is None:
            raise FileNotFoundError(f"no committed snapshot for stage {stage!r}")
        # the live entry of this fingerprint is the newest one: a re-commit
        # marks every earlier entry of the same fingerprint expired
        entry = next(
            (e for e in reversed(self.snapshots(stage)) if e["fingerprint"] == fp),
            None,
        )
        return self._read_data(self._snap_dir(stage, fp), entry)

    # -- time travel (Iceberg VERSION AS OF / TIMESTAMP AS OF) -----------------
    def read_snapshot(self, stage: str, snapshot_id: int) -> DataFrame:
        for e in self.snapshots(stage):
            if e["snapshot_id"] == snapshot_id:
                if e.get("expired"):
                    raise FileNotFoundError(
                        f"stage {stage!r} snapshot {snapshot_id} expired"
                        + (
                            f" (superseded by {e['superseded_by']})"
                            if "superseded_by" in e
                            else ""
                        )
                    )
                return self._read_data(e["path"], e)
        raise FileNotFoundError(f"stage {stage!r} has no snapshot {snapshot_id}")

    def read_as_of(self, stage: str, timestamp_iso: str) -> DataFrame:
        """Latest live snapshot committed at or before ``timestamp_iso``."""
        eligible = [
            e
            for e in self.snapshots(stage)
            if e["committed_at"] <= timestamp_iso and not e.get("expired")
        ]
        if not eligible:
            raise FileNotFoundError(
                f"stage {stage!r} has no snapshot at or before {timestamp_iso}"
            )
        return self.read_snapshot(stage, eligible[-1]["snapshot_id"])

    def expire_snapshots(self, stage: str, keep_last: int = 2) -> list[int]:
        """Drop data of all but the newest ``keep_last`` snapshots (Iceberg
        ``expireSnapshots``). The log keeps the full history; expired entries
        are marked so time travel fails loudly instead of half-reading."""
        entries = self.snapshots(stage)
        live = [e for e in entries if not e.get("expired")]
        expired_ids = []
        keep_paths = {e["path"] for e in live[-max(keep_last, 1):]}
        for e in live[:-max(keep_last, 1)]:
            if e["path"] not in keep_paths and os.path.isdir(e["path"]):
                shutil.rmtree(e["path"])
            e["expired"] = True
            expired_ids.append(e["snapshot_id"])
        tmp = self._log_file(stage) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(entries, f, indent=1)
        os.replace(tmp, self._log_file(stage))
        return expired_ids

    # -- MERGE INTO (copy-on-write, schema-evolving) ---------------------------
    def merge_into(
        self,
        stage: str,
        source: DataFrame,
        key_col: str,
        fingerprint: str | None = None,
    ) -> SnapshotInfo:
        """``MERGE INTO stage USING source ON key`` — WHEN MATCHED update with
        counter/COALESCE semantics (operators/upsert.py, the reference's
        ``db/pipeline_db.py:464-539`` contract), WHEN NOT MATCHED insert.

        Schema evolution: columns only in ``source`` are added to the table
        (old rows read NULL); columns only in the table are preserved (new
        rows read NULL) — Iceberg's add-column semantics on merge.
        """
        from ..operators.upsert import upsert

        latest_fp = self.latest_fingerprint(stage)
        existing = self.read(stage, latest_fp) if latest_fp else None

        meta_cols = {key_col, "seen_count", "first_seen", "last_seen"}
        src_payload = [c for c in source.columns if c not in meta_cols]
        old_payload = (
            [c for c in existing.columns if c not in meta_cols] if existing is not None else []
        )
        payload = list(dict.fromkeys(old_payload + src_payload))
        src = source
        for c in payload:
            if c not in source.columns:
                src = src.withColumn(c, F.lit(None).cast(existing.schema[c].dataType))
        if existing is not None:
            for c in payload:
                if c not in existing.columns:
                    existing = existing.withColumn(
                        c, F.lit(None).cast(source.schema[c].dataType)
                    )
            if "seen_count" not in existing.columns:  # first table was a plain write
                existing = (
                    existing.withColumn("seen_count", F.lit(1))
                    .withColumn("first_seen", F.current_timestamp())
                    .withColumn("last_seen", F.current_timestamp())
                )
        merged = upsert(existing, src, key_col, tuple(payload))
        fp = fingerprint or chain_fingerprint(
            latest_fp or "empty", "merge", self.run_id, str(len(self.snapshots(stage)))
        )
        return self.write(stage, merged, fp, key_col=key_col, operation="merge")

    def rows(self, stage: str, fingerprint: str | None = None) -> int | None:
        """Committed row count of a snapshot (from its _meta.json), or None."""
        fp = fingerprint or self.latest_fingerprint(stage)
        if fp is None:
            return None
        meta = os.path.join(self._snap_dir(stage, fp), "_meta.json")
        if not os.path.isfile(meta):
            return None
        with open(meta) as f:
            return json.load(f).get("rows")

    def latest_fingerprint(self, stage: str) -> str | None:
        latest = self._latest_file(stage)
        if not os.path.isfile(latest):
            return None
        with open(latest) as f:
            return f.read().strip()

    def manifest(self, stage: str | None = None) -> DataFrame:
        """All lineage rows across committed snapshots (optionally one stage)."""
        stages = [stage] if stage else [
            d for d in os.listdir(self.warehouse)
            if os.path.isdir(self._stage_dir(d))
        ]
        paths = []
        for st in stages:
            fp = self.latest_fingerprint(st)
            if fp:
                paths.append(os.path.join(self._snap_dir(st, fp), "manifest.parquet"))
        if not paths:
            raise FileNotFoundError("no committed snapshots")
        return self.spark.read.parquet(*paths)


class IcebergTableStore:
    """Same store surface on a real Iceberg catalog (cluster deployments).

    Untestable in this container (no Iceberg runtime jars) — every method is
    a direct 1:1 mapping of the ``CheckpointStore`` contract onto Iceberg SQL,
    kept deliberately one-statement-thin so the parquet store above remains
    the tested implementation of the semantics. ``catalog`` must name a
    configured Iceberg catalog (``spark.sql.catalog.<name>`` set).
    """

    def __init__(self, spark: SparkSession, catalog: str, namespace: str = "dedup"):
        self.spark = spark
        self.prefix = f"{catalog}.{namespace}"
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {self.prefix}")

    def _table(self, stage: str) -> str:
        return f"{self.prefix}.{stage}"

    def write(self, stage: str, df: DataFrame, fingerprint: str, **_) -> None:
        df.withColumn("_fingerprint", F.lit(fingerprint)).writeTo(
            self._table(stage)
        ).using("iceberg").createOrReplace()

    def read(self, stage: str, fingerprint: str | None = None) -> DataFrame:
        df = self.spark.read.table(self._table(stage))
        if fingerprint is not None:
            df = df.filter(F.col("_fingerprint") == fingerprint)
        return df.drop("_fingerprint")

    def has_snapshot(self, stage: str, fingerprint: str) -> bool:
        try:
            return bool(self.read(stage, fingerprint).limit(1).take(1))
        except Exception:
            return False

    def read_snapshot(self, stage: str, snapshot_id: int) -> DataFrame:
        return self.spark.read.option("snapshot-id", snapshot_id).table(
            self._table(stage)
        )

    def read_as_of(self, stage: str, timestamp_iso: str) -> DataFrame:
        return self.spark.sql(
            f"SELECT * FROM {self._table(stage)} TIMESTAMP AS OF '{timestamp_iso}'"
        )

    def snapshot_log(self, stage: str) -> DataFrame:
        return self.spark.sql(f"SELECT * FROM {self._table(stage)}.snapshots")

    def manifest(self, stage: str) -> DataFrame:
        return self.spark.sql(f"SELECT * FROM {self._table(stage)}.files")

    def expire_snapshots(self, stage: str, keep_last: int = 2) -> None:
        self.spark.sql(
            f"CALL {self.prefix.split('.')[0]}.system.expire_snapshots"
            f"(table => '{self._table(stage)}', retain_last => {keep_last})"
        )

    def merge_into(self, stage: str, source: DataFrame, key_col: str) -> None:
        source.createOrReplaceTempView("_merge_src")
        cols = [c for c in source.columns if c != key_col]
        sets = ", ".join(f"t.{c} = COALESCE(s.{c}, t.{c})" for c in cols)
        # explicit INSERT column list (not INSERT *): the target carries the
        # counter columns the tested CheckpointStore contract guarantees
        # (seen_count=1, first_seen/last_seen stamped on insert) which the
        # source frame does not — INSERT * would fail or diverge against them
        ins_cols = ", ".join(
            [key_col] + cols + ["seen_count", "first_seen", "last_seen"]
        )
        ins_vals = ", ".join(
            [f"s.{key_col}"]
            + [f"s.{c}" for c in cols]
            + ["1", "current_timestamp()", "current_timestamp()"]
        )
        self.spark.sql(
            f"MERGE INTO {self._table(stage)} t USING _merge_src s "
            f"ON t.{key_col} = s.{key_col} "
            f"WHEN MATCHED THEN UPDATE SET {sets}, "
            f"t.seen_count = t.seen_count + 1, t.last_seen = current_timestamp() "
            f"WHEN NOT MATCHED THEN INSERT ({ins_cols}) VALUES ({ins_vals})"
        )
