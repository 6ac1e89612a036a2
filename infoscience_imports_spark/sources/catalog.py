"""Checkpoint store: atomic snapshot commits + per-file lineage/metrics.

Generalizes the reference's per-stage CSV artifacts + DuckDB run bookkeeping
(``data_pipeline/main.py:148-161``, ``db/pipeline_db.py:140-149, 441-460``)
into a table-format contract:

  {warehouse}/{stage}/snap-{snapshot_id}/data/*.parquet   -- stage output
  {warehouse}/{stage}/snap-{snapshot_id}/manifest.parquet -- per-file lineage
  {warehouse}/{stage}/snapshot-log.json                   -- commit record

The snapshot log is the only commit record (the Iceberg metadata-file
analogue) and every reader follows its live entry's ``path`` (by dir name,
under this store's stage dir: ``snapshot_dir``). A commit takes
the next log id, writes data and manifest straight into
``snap-{snapshot_id}``, then appends the log entry by one ``os.replace`` --
the single commit point. A crash before that replace leaves a dir that no
live log entry names: it is invisible to ``has_snapshot``, ``read`` and
``latest_fingerprint``, and the next commit of the stage takes the same id
and overwrites it, so any stage is resumable (north_rule). ``fingerprint``
chains the upstream fingerprint + stage config, so resume only reuses a
snapshot whose entire ancestry matches; re-committing a fingerprint expires
its old entry and deletes the old dir after the replace.

Each log entry carries ``snapshot_id``, ``parent_id``, operation, run id,
the committed schema (reads pass it to the scan, so no read pays a
schema-inference job), the row count and key checksum, and the stage's
measured gate decisions (``gates``: value, threshold, branch taken). Old
snapshots stay readable (time travel by snapshot id or timestamp) until
``expire_snapshots``; ``merge_into`` is a copy-on-write MERGE INTO with
schema evolution (new source columns are added, absent ones preserved). On a
cluster with Iceberg the same contract maps onto
``writeTo(...).createOrReplace()`` commits and the table's ``snapshots`` /
``files`` metadata tables.

A commit is ONE Spark job, the data write; no statistic re-reads the data.
The snapshot's ``rows`` and ``checksum`` (order-insensitive sum of
``pmod(xxhash64(key), 2^31)``) are observed during the write
(``DataFrame.observe``). The manifest's lineage rows (one per non-empty data
file: rows, min/max of the stage key -- generalizing ``source_stats``,
``pipeline_db.py:145-149``) come from the Parquet footers, as Iceberg fills
its manifests from what the writer knows. A commit whose footer row total
differs from the observed count raises before the log replace.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from dataclasses import dataclass
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_MANIFEST_SCHEMA = pa.schema(
    [
        ("file", pa.string()),
        ("rows", pa.int64()),
        ("min_key", pa.string()),
        ("max_key", pa.string()),
        ("run_id", pa.string()),
        ("stage", pa.string()),
        ("fingerprint", pa.string()),
        ("committed_at", pa.timestamp("us", tz="UTC")),
    ]
)


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
        # absolute, so log paths do not depend on the working directory
        self.warehouse = os.path.abspath(warehouse)
        self.run_id = run_id or uuid.uuid4().hex[:12]
        os.makedirs(self.warehouse, exist_ok=True)

    # -- paths ---------------------------------------------------------------
    def _stage_dir(self, stage: str) -> str:
        return os.path.join(self.warehouse, stage)

    def _log_file(self, stage: str) -> str:
        return os.path.join(self._stage_dir(stage), "snapshot-log.json")

    def snapshot_dir(self, stage: str, entry: dict) -> str:
        """The dir of a log entry's snapshot under THIS store's stage dir.
        The entry's ``path`` is absolute as committed; only its name is
        followed, so a copied or moved warehouse reads (and expires) its own
        files, never the original's."""
        return os.path.join(self._stage_dir(stage), os.path.basename(entry["path"]))

    def stages(self) -> list[str]:
        """Stages with a dir in the warehouse, sorted."""
        return sorted(
            d for d in os.listdir(self.warehouse) if os.path.isdir(self._stage_dir(d))
        )

    # -- snapshot log (Iceberg metadata-file analogue) -------------------------
    def snapshots(self, stage: str) -> list[dict]:
        """Committed snapshot history, oldest first (Iceberg snapshot log)."""
        log = self._log_file(stage)
        if not os.path.isfile(log):
            return []
        with open(log) as f:
            return json.load(f)

    def _save_log(self, stage: str, entries: list[dict]) -> None:
        """Replace the log (the commit point: single-writer atomic swap, the
        guarantee Iceberg gets from its catalog CAS), then delete the dirs
        that only expired entries still name."""
        tmp = self._log_file(stage) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(entries, f, indent=1)
        os.replace(tmp, self._log_file(stage))
        live = {self.snapshot_dir(stage, e) for e in entries if not e.get("expired")}
        for e in entries:
            d = self.snapshot_dir(stage, e)
            if e.get("expired") and d not in live and os.path.isdir(d):
                shutil.rmtree(d)

    def live_entry(self, stage: str, fingerprint: str | None = None) -> dict | None:
        """The log entry that commits ``fingerprint`` (default: the latest),
        or None. A re-commit marks every earlier entry of the same
        fingerprint expired, so the newest one is the only candidate."""
        entries = self.snapshots(stage)
        fp = fingerprint or (entries[-1]["fingerprint"] if entries else None)
        for e in reversed(entries):
            if e["fingerprint"] == fp:
                return None if e.get("expired") else e
        return None

    # -- commit / read -------------------------------------------------------
    def has_snapshot(self, stage: str, fingerprint: str) -> bool:
        """Any live committed snapshot is resumable, not just the latest."""
        entry = self.live_entry(stage, fingerprint)
        return entry is not None and os.path.isdir(
            os.path.join(self.snapshot_dir(stage, entry), "data")
        )

    def write(
        self,
        stage: str,
        df: DataFrame,
        fingerprint: str,
        key_col: str | None = None,
        operation: str = "replace",
        gates: dict | None = None,
    ) -> SnapshotInfo:
        """Write df as a new snapshot; returns after the atomic commit. The
        data write is the commit's only Spark action. ``gates`` maps each
        gate the stage measured to its ``{"value", "threshold", "branch"}``
        record for the log entry."""
        history = self.snapshots(stage)
        parent = history[-1]["snapshot_id"] if history else None
        snap_id = (parent or 0) + 1
        snap = os.path.join(self._stage_dir(stage), f"snap-{snap_id}")
        data_dir = os.path.join(snap, "data")
        # the checksum hashes the key column (order-insensitive sum) -- full
        # row hashing would cost a hash over every wide column per stage
        key = F.col(key_col) if key_col and key_col in df.columns else F.lit(None)
        obs = Observation()
        df.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.coalesce(
                F.sum(F.pmod(F.xxhash64(key), F.lit(1 << 31))), F.lit(0)
            ).alias("checksum"),
        ).write.mode("overwrite").parquet(data_dir)
        observed = obs.get

        files = _footer_lineage(data_dir, key_col)
        total = sum(f["rows"] for f in files)
        if total != observed["rows"]:
            raise RuntimeError(
                f"stage {stage!r} snapshot {snap_id}: data file footers hold "
                f"{total} rows but the write observed {observed['rows']}; not committed"
            )
        commit_meta = {
            "run_id": self.run_id,
            "stage": stage,
            "fingerprint": fingerprint,
            "committed_at": datetime.now(timezone.utc),
        }
        table = pa.Table.from_pylist(
            [{**f, **commit_meta} for f in files], schema=_MANIFEST_SCHEMA
        )
        # the manifest follows the session codec like the data files; Spark
        # spells "no compression" differently from pyarrow
        codec = self.spark.conf.get("spark.sql.parquet.compression.codec")
        pq.write_table(
            table,
            os.path.join(snap, "manifest.parquet"),
            compression={"uncompressed": "none"}.get(codec, codec),
        )

        # re-committing a fingerprint expires its older entries, so time
        # travel to a stale id fails explicitly; _save_log drops their dirs
        for e in history:
            if e["fingerprint"] == fingerprint and not e.get("expired"):
                e["expired"] = True
                e["superseded_by"] = snap_id
        history.append(
            {
                "snapshot_id": snap_id,
                "parent_id": parent,
                "fingerprint": fingerprint,
                "operation": operation,
                "committed_at": datetime.now(timezone.utc).isoformat(),
                "rows": total,
                "checksum": observed["checksum"],
                "gates": gates or {},
                "run_id": self.run_id,
                "path": snap,
                "schema": df.schema.json(),
            }
        )
        self._save_log(stage, history)
        return SnapshotInfo(stage, fingerprint, snap, total, snap_id)

    def _read_data(self, stage: str, entry: dict) -> DataFrame:
        """Scan a snapshot's data files with the schema its log entry
        recorded at commit — no schema-inference job."""
        schema = StructType.fromJson(json.loads(entry["schema"]))
        return self.spark.read.schema(schema).parquet(
            os.path.join(self.snapshot_dir(stage, entry), "data")
        )

    def read(self, stage: str, fingerprint: str | None = None) -> DataFrame:
        entry = self.live_entry(stage, fingerprint)
        if entry is None:
            raise FileNotFoundError(
                f"stage {stage!r} has no committed snapshot {fingerprint or ''}"
            )
        return self._read_data(stage, entry)

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
                return self._read_data(stage, e)
        raise FileNotFoundError(f"stage {stage!r} has no snapshot {snapshot_id}")

    def read_as_of(self, stage: str, timestamp_iso: str) -> DataFrame:
        """Latest live snapshot committed at or before ``timestamp_iso``.

        Times compare as instants, not as text; a time without an offset is
        UTC, the session time zone."""

        def instant(iso: str) -> datetime:
            t = datetime.fromisoformat(iso)
            return t if t.tzinfo else t.replace(tzinfo=timezone.utc)

        as_of = instant(timestamp_iso)
        eligible = [
            e
            for e in self.snapshots(stage)
            if instant(e["committed_at"]) <= as_of and not e.get("expired")
        ]
        if not eligible:
            raise FileNotFoundError(
                f"stage {stage!r} has no snapshot at or before {timestamp_iso}"
            )
        return self.read_snapshot(stage, eligible[-1]["snapshot_id"])

    def expire_snapshots(self, stage: str, keep_last: int = 2) -> list[int]:
        """Drop data of all but the newest ``keep_last`` snapshots (Iceberg
        ``expireSnapshots``), and any dir that only expired entries still
        name. The log keeps the full history; expired entries are marked so
        time travel fails loudly instead of half-reading."""
        entries = self.snapshots(stage)
        live = [e for e in entries if not e.get("expired")]
        expired_ids = []
        for e in live[:-max(keep_last, 1)]:
            e["expired"] = True
            expired_ids.append(e["snapshot_id"])
        self._save_log(stage, entries)
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
        """Committed row count of a snapshot (from its log entry), or None."""
        entry = self.live_entry(stage, fingerprint)
        return entry["rows"] if entry else None

    def latest_fingerprint(self, stage: str) -> str | None:
        """Fingerprint of the last committed snapshot, or None."""
        entries = self.snapshots(stage)
        return entries[-1]["fingerprint"] if entries else None

    def manifest(self, stage: str | None = None) -> DataFrame:
        """Lineage rows of the latest snapshot of each stage (or of one).

        A manifest names each data file relative to its snapshot; ``file``
        is rebuilt from the manifest's own location as ``input_file_name()``
        spells it, so a copied or moved warehouse lists its own files. A
        ``file`` that already holds a URI (manifests committed before
        relative names) is returned as stored."""
        paths = [
            os.path.join(self.snapshot_dir(st, e), "manifest.parquet")
            for st in ([stage] if stage else self.stages())
            if (e := self.live_entry(st))
        ]
        if not paths:
            raise FileNotFoundError("no committed snapshots")
        data_dir = F.regexp_replace(F.input_file_name(), "manifest\\.parquet$", "data/")
        m = self.spark.read.parquet(*paths)
        return m.withColumn(
            "file",
            F.when(F.col("file").contains("/"), F.col("file")).otherwise(
                F.concat(data_dir, F.col("file"))
            ),
        )


def _footer_lineage(data_dir: str, key_col: str | None) -> list[dict]:
    """One lineage row per non-empty data file, from its Parquet footer:
    ``file`` (the name under the snapshot's ``data`` dir), ``rows``, and the
    key column's min/max over its row-group statistics, as strings (None
    without a key or statistics). Keys are integral or string columns, whose
    ``str`` matches Spark's cast to string."""
    out = []
    for name in sorted(os.listdir(data_dir)):
        if not name.endswith(".parquet"):  # _SUCCESS and .crc side files
            continue
        path = os.path.join(data_dir, name)
        md = pq.read_metadata(path)
        if md.num_rows == 0:
            continue
        leaves = [md.schema.column(j).path for j in range(md.num_columns)]
        stats = (
            [md.row_group(i).column(leaves.index(key_col)).statistics
             for i in range(md.num_row_groups)]
            if key_col in leaves
            else []
        )
        bounds = [(s.min, s.max) for s in stats if s is not None and s.has_min_max]
        lo = str(min(b[0] for b in bounds)) if bounds else None
        hi = str(max(b[1] for b in bounds)) if bounds else None
        out.append({"file": name, "rows": md.num_rows, "min_key": lo, "max_key": hi})
    return out
