"""Iceberg-proper snapshot backend (north rule: "checkpoints to Iceberg
snapshots"), used when a runtime jar is on the classpath.

The sandbox image carries no Iceberg jar and has no network to fetch one,
so in-sandbox runs always fall back to ``state.SnapshotStore`` (the
parquet+manifest emulation of the same contract, see its module docstring).
This module is the real-cluster path: enable with ``SPARK_GRAFT_ICEBERG=1``
and a session built with ``iceberg_session_builder_conf()`` applied (adds
the Iceberg SQL extensions and a hadoop catalog under
``$SPARK_GRAFT_ICEBERG_WAREHOUSE``). ``tests/test_iceberg.py`` runs the full
golden + resume suite against it and SKIPS when the classpath lacks the
runtime — the gate is ``iceberg_available(spark)``.

Design — how one crawl wave maps to Iceberg primitives:

* every table (``frontier``, ``crawl_log``, ``metrics``) is an ordinary
  Iceberg table; ``write_table`` is an atomic per-table commit
  (``overwritePartitions`` for replace-style tables, ``append`` for delta
  tables) and returns the table's new **snapshot id**;
* cross-table atomicity comes from a tiny ``wave_manifest`` table: one row
  per wave carrying (wave, extra json, {table -> snapshot_id} json),
  appended LAST. A crash after some table commits but before the manifest
  append leaves newer snapshots that no manifest row references — the
  Iceberg analog of orphan data files; resume reads every table ``VERSION
  AS OF`` the snapshot id recorded in the newest manifest row, so the
  half-written wave is invisible exactly like the parquet store's
  unpublished dirs;
* ``latest()`` = max-wave row of ``wave_manifest``.
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession

CATALOG = os.environ.get("SPARK_GRAFT_ICEBERG_CATALOG", "wbs")


def iceberg_enabled() -> bool:
    return os.environ.get("SPARK_GRAFT_ICEBERG") == "1"


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg runtime is on the session's JVM classpath."""
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.iceberg.catalog.Catalog"
        )
        return True
    except Exception:
        return False


def iceberg_session_builder_conf(warehouse: str) -> dict[str, str]:
    """Builder .config() entries for an Iceberg-enabled session (the caller
    must also put ``iceberg-spark-runtime`` on the classpath, e.g. via
    ``spark.jars.packages`` / ``spark-submit --packages``)."""
    return {
        "spark.sql.extensions": (
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
        ),
        f"spark.sql.catalog.{CATALOG}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{CATALOG}.type": "hadoop",
        f"spark.sql.catalog.{CATALOG}.warehouse": warehouse,
    }


class IcebergSnapshotStore:
    """Drop-in for ``state.SnapshotStore`` over real Iceberg tables."""

    MANIFEST = "wave_manifest"

    def __init__(self, spark: SparkSession, namespace: str):
        self.spark = spark
        # namespace per engine state dir (one crawl = one namespace)
        self.ns = f"{CATALOG}.{namespace}"
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {self.ns}")
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {self.ns}.{self.MANIFEST} "
            "(wave INT, extra STRING, snapshots STRING) USING iceberg"
        )

    # -- read side -----------------------------------------------------------

    def latest(self) -> dict[str, Any] | None:
        rows = self.spark.sql(
            f"SELECT wave, extra, snapshots FROM {self.ns}.{self.MANIFEST} "
            "ORDER BY wave DESC LIMIT 1"
        ).collect()
        if not rows:
            return None
        r = rows[0]
        manifest = {"wave": r["wave"], "tables": json.loads(r["snapshots"])}
        manifest.update(json.loads(r["extra"]))
        return manifest

    def read_table(self, spark: SparkSession, name: str) -> DataFrame | None:
        manifest = self.latest()
        if manifest is None or name not in manifest["tables"]:
            return None
        snap = manifest["tables"][name]
        return spark.read.option("snapshot-id", str(snap)).table(f"{self.ns}.{name}")

    # -- write side ----------------------------------------------------------

    def _ensure(self, name: str, df: DataFrame) -> str:
        tbl = f"{self.ns}.{name}"
        if not self.spark.catalog.tableExists(tbl):
            # url_hash-keyed tables bucket on the join key so the per-wave
            # anti-join is storage-co-partitioned (shuffle-free with SPJ)
            writer = df.writeTo(tbl).using("iceberg")
            if "url_hash" in df.columns:
                from pyspark.sql import functions as F

                writer = writer.partitionedBy(F.bucket(64, "url_hash"))
            writer.createOrReplace()
            return tbl
        return tbl

    def _snapshot_id(self, tbl: str) -> int:
        """The table's CURRENT snapshot id, read from the ``refs`` metadata
        table's ``main`` branch head — not ``ORDER BY committed_at`` over
        ``.snapshots``: committed_at has millisecond granularity and
        snapshot ids are non-monotonic, so a timestamp tie could pin an
        ambiguous snapshot in the wave manifest."""
        row = self.spark.sql(
            f"SELECT snapshot_id FROM {tbl}.refs WHERE name = 'main'"
        ).collect()[0]
        return int(row["snapshot_id"])

    def write_table(self, name: str, df: DataFrame, wave: int, mode: str = "append") -> int:
        """One atomic Iceberg commit; returns the new snapshot id.

        ``mode='replace'`` overwrites the whole table (frontier semantics);
        ``'append'`` adds the wave's delta. The snapshot id — not the table
        name — is what the wave manifest records, so an unpublished commit
        is invisible to readers."""
        from pyspark.sql import functions as F

        tbl = f"{self.ns}.{name}"
        if not self.spark.catalog.tableExists(tbl):
            self._ensure(name, df)
        elif mode == "replace":
            # full-table overwrite (NOT overwritePartitions: a bucket empty
            # in the new frontier must still lose its old rows)
            df.writeTo(tbl).overwrite(F.lit(True))
        else:
            df.writeTo(tbl).append()
        return self._snapshot_id(tbl)

    def write_local_table(self, name: str, table, wave: int) -> int:
        """Driver-local pyarrow Table delta (same interface as
        ``SnapshotStore.write_local_table``). Iceberg has no jobless write
        path — every commit goes through the table format — so this wraps
        the rows back into a DataFrame and appends normally; callers get
        one uniform call for small driver-side deltas on either backend."""
        rows = [
            tuple(d[f.name] for f in table.schema) for d in table.to_pylist()
        ]
        # explicit arrow->Spark DDL map; raising on an unmapped type beats
        # silently degrading it to string (a latent type-corruption footgun
        # for future callers of the shared store interface)
        type_map = {
            "bool": "boolean",
            "int32": "int",
            "int64": "long",
            "float": "float",
            "double": "double",
            "string": "string",
            "large_string": "string",
            "date32[day]": "date",
            "timestamp[us]": "timestamp",
            "binary": "binary",
        }
        parts = []
        for f in table.schema:
            t = str(f.type)
            if t not in type_map:
                raise TypeError(
                    f"write_local_table: unmapped arrow type {t!r} for "
                    f"column {f.name!r} — extend the type map"
                )
            parts.append(f"{f.name} {type_map[t]}")
        ddl = ", ".join(parts)
        return self.write_table(name, self.spark.createDataFrame(rows, ddl), wave, mode="append")

    def publish(
        self,
        wave: int,
        replace_rels: dict[str, int],
        append_rels: dict[str, int],
        extra: dict[str, Any] | None = None,
    ) -> dict[str, Any]:
        prev = self.latest()
        snaps: dict[str, int] = dict(prev["tables"]) if prev else {}
        snaps.update(replace_rels)
        snaps.update(append_rels)
        row = [(wave, json.dumps(extra or {}), json.dumps(snaps))]
        self.spark.createDataFrame(row, "wave int, extra string, snapshots string").writeTo(
            f"{self.ns}.{self.MANIFEST}"
        ).append()
        return {"wave": wave, "tables": snaps, **(extra or {})}

    def destroy(self) -> None:
        for row in self.spark.sql(f"SHOW TABLES IN {self.ns}").collect():
            self.spark.sql(f"DROP TABLE IF EXISTS {self.ns}.{row['tableName']}")
        self.spark.sql(f"DROP NAMESPACE IF EXISTS {self.ns}")
