"""Versioned tables with snapshot history, per-partition lineage and
match-count metrics: the one store behind the batch pipeline's stage
checkpoints and the streaming ingest state.

north_rule: "resumable from checkpoint with per-partition lineage + metrics".
The reference's analogue is CSV handoffs in /dev/shm plus skip-if-exists
(`Main.py:42-50`, `Full_State_Sample_Generation.py:53-58`) and row-count
guards (`Classify_Unknowns_opt.py:674-690`).

Backend: on a production cluster each table would be an Iceberg table. No
Iceberg runtime jar ships in this sandbox, so the store reproduces the
Iceberg snapshot model on parquet:

  * every commit writes one NEW immutable data dir (``table/snap-N``);
  * a snapshot lists the dirs it reads: an *overwrite* commit only its new
    dir, an *append* commit its parent's dirs plus the new one;
  * a ``table._manifest.json`` (written atomically via rename) is the
    commit pointer: ``current`` snapshot id + the full history, each entry
    carrying its dirs, fingerprint and lineage metrics;
  * ``read(..., snapshot_id=)`` is time travel, ``rollback`` moves the
    pointer, ``expire_snapshots`` is expiry/GC: it deletes every dir no
    kept snapshot lists (appends share dirs; a commit that crashed before
    its pointer flip leaves an unlisted dir).

Every commit records a fingerprint of what it was computed from, and is
skipped when the current snapshot's fingerprint equals it, and only then:
a stage is reused while its inputs match, and a replayed ingest batch is
not appended twice. A mismatch commits the next snapshot id; the old one
stays in history. ``invalidate`` clears the pointer, keeping history.

Keyed tables (``key=``) are latest-wins: rows carry their commit's snapshot
id in ``_v`` and a read keeps the newest row per key. An append that brings
a snapshot to ``COMPACT_EVERY`` dirs is followed by an overwrite commit of
the merged read and expiry of everything else.

Per-partition lineage metrics come from the parquet footers of the
commit's data files (one file per write task) — metadata-only, the way
Iceberg manifests carry per-file stats — plus stage-specific counters
(pairs_scored, matches) merged in by the caller.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

COMPACT_EVERY = 8  # data dirs an append snapshot may list before compaction


class CheckpointStore:
    def __init__(self, root: str, job_id: str):
        self.root = os.path.join(root, job_id)
        os.makedirs(self.root, exist_ok=True)

    def _table_path(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def _manifest_path(self, stage: str) -> str:
        return os.path.join(self.root, f"{stage}._manifest.json")

    def _manifest(self, stage: str) -> dict:
        try:
            with open(self._manifest_path(stage)) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"current": None, "snapshots": []}

    def _commit(self, stage: str, manifest: dict) -> None:
        tmp = self._manifest_path(stage) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, self._manifest_path(stage))  # atomic pointer flip

    @staticmethod
    def _snapshot(stage: str, manifest: dict, snapshot_id: int | None) -> dict:
        if snapshot_id is None:
            raise FileNotFoundError(f"checkpoint stage '{stage}' not committed")
        for s in manifest["snapshots"]:
            if s["snapshot_id"] == snapshot_id:
                return s
        raise FileNotFoundError(f"stage '{stage}' has no snapshot {snapshot_id}")

    # -- public API ---------------------------------------------------------
    def exists(self, stage: str) -> bool:
        return self._manifest(stage)["current"] is not None

    def history(self, stage: str) -> list[dict]:
        """All snapshots ever committed for the stage (Iceberg history)."""
        return self._manifest(stage)["snapshots"]

    def stage(
        self, spark: SparkSession, stage: str, fingerprint, build: Callable
    ) -> tuple[DataFrame, dict]:
        """One pipeline stage: its current snapshot while that snapshot's
        fingerprint equals ``fingerprint``, else ``build()``'s
        (DataFrame, extra metrics) committed as the next snapshot. Returns
        the snapshot's DataFrame and metrics."""
        if self.exists(stage) and self.read_metrics(stage)["fingerprint"] == fingerprint:
            df, extra = self.read(spark, stage), None  # the write below skips
        else:
            df, extra = build()
        metrics = self.write(stage, df, extra_metrics=extra, fingerprint=fingerprint)
        return self.read(spark, stage), metrics

    def write(
        self,
        stage: str,
        df: DataFrame,
        extra_metrics: dict | None = None,
        fingerprint=None,
        append: bool = False,
        key: list[str] | None = None,
    ) -> dict:
        """Commit ``df`` as the stage's next snapshot + lineage metrics;
        returns the snapshot's metrics.

        Skipped, returning the current snapshot's metrics, when the current
        snapshot's fingerprint equals ``fingerprint`` (JSON-able). ``append``
        keeps the parent snapshot's rows; ``key`` makes reads latest-wins
        per those columns.
        """
        manifest = self._manifest(stage)
        current = manifest["current"]
        parent = None if current is None else self._snapshot(stage, manifest, current)
        if parent is not None and parent["fingerprint"] == fingerprint:
            return parent
        dirs = parent["dirs"] if append and parent is not None else []
        metrics = self._write_snapshot(stage, manifest, df, dirs, fingerprint, key, extra_metrics)
        if len(metrics["dirs"]) >= COMPACT_EVERY:
            # compaction: an overwrite commit of the merged read, under the
            # same fingerprint so that a replay of this append still skips
            merged = self.read(df.sparkSession, stage)
            self._write_snapshot(stage, self._manifest(stage), merged, [], fingerprint, key)
            self.expire_snapshots(stage, keep=1)
        return metrics

    def _write_snapshot(
        self, stage, manifest, df, dirs, fingerprint, key, extra_metrics=None
    ) -> dict:
        t0 = time.time()
        snap_id = max((s["snapshot_id"] for s in manifest["snapshots"]), default=-1) + 1
        new_dir = f"snap-{snap_id}"
        path = os.path.join(self._table_path(stage), new_dir)
        if key:
            df = df.withColumn("_v", F.lit(snap_id))
        df.write.mode("overwrite").parquet(path)

        # per-partition lineage from the parquet FOOTERS: no second scan job
        # (a groupBy(spark_partition_id()) re-read was a fixed cost of every
        # ER run and grew with core count)
        per_partition = self._file_stats(path)
        metrics = {
            "stage": stage,
            "snapshot_id": snap_id,
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "fingerprint": fingerprint,
            "dirs": dirs + [new_dir],
            "key": key,
            "rows_out": int(sum(r["rows_out"] for r in per_partition)),
            "n_partitions": len(per_partition),
            "partitions": per_partition,
            "wall_s": round(time.time() - t0, 3),
        }
        if extra_metrics:
            metrics.update(extra_metrics)

        manifest["snapshots"].append(metrics)
        manifest["current"] = snap_id
        self._commit(stage, manifest)
        return metrics

    @staticmethod
    def _file_stats(path: str) -> list[dict]:
        """(partition_id, rows_out, n_bytes) per data file, from parquet
        footers — driver-side metadata read, no Spark job."""
        import pyarrow.parquet as pq

        files = sorted(
            os.path.join(path, n) for n in os.listdir(path) if n.endswith(".parquet")
        )
        return [
            {
                "partition_id": i,
                "rows_out": int(pq.ParquetFile(f).metadata.num_rows),
                "n_bytes": os.path.getsize(f),
            }
            for i, f in enumerate(files)
        ]

    def read(
        self, spark: SparkSession, stage: str, snapshot_id: int | None = None
    ) -> DataFrame:
        """Read the current snapshot, or a historical one (time travel)."""
        snap = self.read_metrics(stage, snapshot_id)
        table = self._table_path(stage)
        df = spark.read.parquet(*[os.path.join(table, d) for d in snap["dirs"]])
        if not snap["key"]:
            return df
        w = Window.partitionBy(*snap["key"]).orderBy(F.desc("_v"))
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_v")
        )

    def read_metrics(self, stage: str, snapshot_id: int | None = None) -> dict:
        manifest = self._manifest(stage)
        snap = manifest["current"] if snapshot_id is None else snapshot_id
        return self._snapshot(stage, manifest, snap)

    def rollback(self, stage: str, snapshot_id: int) -> None:
        """Point the stage back at an earlier snapshot (Iceberg rollback)."""
        manifest = self._manifest(stage)
        self._snapshot(stage, manifest, snapshot_id)
        manifest["current"] = snapshot_id
        self._commit(stage, manifest)

    def expire_snapshots(self, stage: str, keep: int = 2) -> list[int]:
        """Drop all but the newest `keep` snapshots (the current one is
        always kept) and delete every data dir no kept snapshot lists;
        returns the expired ids. Mirrors Iceberg's expire_snapshots
        maintenance action."""
        manifest = self._manifest(stage)
        snaps = sorted(manifest["snapshots"], key=lambda s: s["snapshot_id"])
        # snaps[-0:] would keep EVERYTHING; keep=0 means "current only"
        keep_ids = {s["snapshot_id"] for s in (snaps[-keep:] if keep > 0 else [])}
        if manifest["current"] is not None:
            keep_ids.add(manifest["current"])
        expired = [s["snapshot_id"] for s in snaps if s["snapshot_id"] not in keep_ids]
        manifest["snapshots"] = [s for s in snaps if s["snapshot_id"] in keep_ids]
        self._commit(stage, manifest)  # pointer flip first, then GC
        live = {d for s in manifest["snapshots"] for d in s["dirs"]}
        table = self._table_path(stage)
        for d in os.listdir(table) if os.path.isdir(table) else []:
            if d not in live:
                shutil.rmtree(os.path.join(table, d), ignore_errors=True)
        return expired

    def invalidate(self, stage: str) -> None:
        """Clear the commit pointer (stage will recompute as a NEW snapshot);
        history is preserved for rollback."""
        manifest = self._manifest(stage)
        if manifest["current"] is not None:
            manifest["current"] = None
            self._commit(stage, manifest)
