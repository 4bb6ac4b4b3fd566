"""Snapshot-committed table state (Iceberg-semantics fallback).

The north rule requires frontier state to "checkpoint to Iceberg snapshots
... so a killed run resumes mid-wave without re-fetching". The sandbox has
no Iceberg runtime jar and no network to resolve one (SURVEY.md §7.0
fallback clause), so this module implements the identical contract over
parquet + JSON manifests:

* one **atomic multi-table commit per wave**: all data files for wave k are
  written first, then a single manifest ``_snapshots/<wave>.json`` is
  published via tmp-file + ``os.rename`` (atomic on POSIX). A crash before
  the rename leaves orphan data files that no manifest references — exactly
  Iceberg's uncommitted-snapshot semantics; a crash after the rename leaves a
  fully consistent wave.
* **resume** = read the highest-numbered manifest; every table is the union
  of the data directories that manifest lists; the manifest also carries the
  wave watermark, the global ``seq_end`` and per-partition lineage counters
  (the north star's "per-partition lineage and fetch/dedup metrics").
* tables are either *replace* (``frontier`` — full new version each wave,
  like an Iceberg ``overwrite``) or *append* (``crawl_log``, whose url_hash
  column is the URL-seen set, and ``metrics`` — like an Iceberg ``append``).

On a real cluster the mapping is 1:1: ``write_table()`` + ``publish()``
become a single Iceberg multi-table transaction (or per-table appends + a
wave watermark column checked on resume), ``latest()`` becomes a snapshot
read.

This models the reference's resumability, which is the S3-keyspace
existence check at ``parallel_computing_tasks.py:213-220`` ("if the task
data already exists, skip") lifted from per-object to per-wave snapshots.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Any

from pyspark.sql import DataFrame, SparkSession


class SnapshotStore:
    def __init__(self, root: str):
        self.root = root
        self.snap_dir = os.path.join(root, "_snapshots")
        os.makedirs(self.snap_dir, exist_ok=True)

    # -- read side -----------------------------------------------------------

    def latest(self) -> dict[str, Any] | None:
        # publish's '.tmp.<wave>.json' is never a manifest: a crash before
        # its rename can leave it torn
        names = sorted(
            n
            for n in os.listdir(self.snap_dir)
            if n.endswith(".json") and not n.startswith(".tmp.")
        )
        if not names:
            return None
        with open(os.path.join(self.snap_dir, names[-1])) as f:
            return json.load(f)

    def read_table(self, spark: SparkSession, name: str) -> DataFrame | None:
        manifest = self.latest()
        if manifest is None or name not in manifest["tables"]:
            return None
        dirs = [os.path.join(self.root, d) for d in manifest["tables"][name]]
        dirs = [d for d in dirs if os.path.isdir(d)]
        if not dirs:
            return None
        return spark.read.parquet(*dirs)

    # -- write side ----------------------------------------------------------

    def write_table(self, name: str, df: DataFrame, wave: int, mode: str = "append") -> str:
        """Write one table's data files for ``wave``; NOT yet published.

        Until ``publish`` runs, the directory is an orphan no manifest
        references — exactly Iceberg's uncommitted-data-file semantics, so a
        crash (or an abandoned wave) between write and publish is safe.
        Returns the manifest-relative path. ``mode`` is part of the shared
        store interface (``iceberg.IcebergSnapshotStore`` needs it); here
        replace-vs-append is decided by which ``publish`` dict the returned
        path lands in, so it is accepted and ignored."""
        rel = f"data/{name}/wave={wave}"
        df.write.mode("overwrite").parquet(os.path.join(self.root, rel))
        return rel

    def write_local_table(self, name: str, table, wave: int) -> str:
        """Write a DRIVER-LOCAL pyarrow Table as one table delta — zero
        Spark jobs. For small driver-side aggregates (the per-wave metrics
        rows, already scalars from Observations) a Spark write is pure
        job-scheduling overhead; the parquet bytes are identical to what a
        one-partition Spark write would produce and read back the same."""
        import pyarrow.parquet as pq

        rel = f"data/{name}/wave={wave}"
        path = os.path.join(self.root, rel)
        # same overwrite semantics as write_table's mode('overwrite'): a
        # crash between write and publish can leave an orphan wave dir from
        # a previous attempt (possibly Spark-written); a rewrite of the
        # same wave must truncate it or read_table would see both deltas
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path, exist_ok=True)
        pq.write_table(table, os.path.join(path, "part-00000.parquet"))
        return rel

    def publish(
        self,
        wave: int,
        replace_rels: dict[str, str],
        append_rels: dict[str, str],
        extra: dict[str, Any] | None = None,
    ) -> dict[str, Any]:
        """Atomically publish already-written data dirs as wave ``wave``."""
        prev = self.latest()
        tables: dict[str, list[str]] = dict(prev["tables"]) if prev else {}
        for name, rel in replace_rels.items():
            tables[name] = [rel]
        for name, rel in append_rels.items():
            tables[name] = tables.get(name, []) + [rel]
        manifest = {"wave": wave, "tables": tables, **(extra or {})}
        tmp = os.path.join(self.snap_dir, f".tmp.{wave:06d}.json")
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, os.path.join(self.snap_dir, f"{wave:06d}.json"))
        return manifest

    def destroy(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)


def make_store(spark: SparkSession, state_dir: str):
    """Pick the snapshot backend: Iceberg-proper when SPARK_GRAFT_ICEBERG=1
    AND the runtime jar is on the classpath; the parquet+manifest emulation
    otherwise (this sandbox has no jar and no network to fetch one)."""
    import re
    import warnings

    from .iceberg import IcebergSnapshotStore, iceberg_available, iceberg_enabled

    if iceberg_enabled():
        if iceberg_available(spark):
            ns = "ns_" + re.sub(r"[^a-z0-9]+", "_", state_dir.lower()).strip("_")[-80:]
            return IcebergSnapshotStore(spark, ns)
        warnings.warn(
            "SPARK_GRAFT_ICEBERG=1 but no Iceberg runtime on the classpath; "
            "falling back to the parquet snapshot store"
        )
    return SnapshotStore(state_dir)
