"""SparkSession factory.

Local sessions are tuned for the sandbox (single JVM, ``local[N]``), but the
configuration is the one we would ship on a real cluster: AQE on (runtime
coalesce + skew-join splitting), Arrow on (every pandas UDF crosses the
JVM/Python boundary in columnar batches, never per row).

Iceberg note (SURVEY.md §7.0): the sandbox has no Iceberg runtime jar and no
network to fetch one, so table state uses the snapshot-manifest layer in
``state.py`` which implements the same contract (atomic multi-table wave
commits, resume from the latest committed snapshot). On a real cluster set
``SPARK_GRAFT_ICEBERG=1`` after adding
``org.apache.iceberg:iceberg-spark-runtime-*`` to ``spark.jars.packages``;
``state.py`` documents the 1:1 mapping.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_PKG_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _package_zip() -> str:
    """Zip warc_bench_spark for worker shipment — the local analog of
    ``spark-submit --py-files`` (the north rule's deployment mode). Python
    workers deserialize our pandas UDFs and must import this package.

    The zip is named by a digest of the package's ``.py`` sources and
    written once: concurrent sessions either find the finished file or
    each write a private temp file and ``os.replace`` it into place, so no
    session ever ships a half-written zip."""
    pkg = os.path.join(_PKG_ROOT, "warc_bench_spark")
    sources = sorted(
        os.path.join(root, f)
        for root, _dirs, files in os.walk(pkg)
        for f in files
        if f.endswith(".py")
    )
    digest = hashlib.sha256()
    for full in sources:
        digest.update(os.path.relpath(full, _PKG_ROOT).encode() + b"\0")
        with open(full, "rb") as f:
            digest.update(f.read() + b"\0")
    tmpdir = tempfile.gettempdir()
    out = os.path.join(
        tmpdir, f"warc_bench_spark_pyfiles_{digest.hexdigest()[:16]}.zip"
    )
    if os.path.exists(out):
        return out
    fd, tmp = tempfile.mkstemp(prefix=".warc_bench_spark_pyfiles_", dir=tmpdir)
    try:
        with os.fdopen(fd, "wb") as raw, zipfile.ZipFile(raw, "w") as z:
            for full in sources:
                z.write(full, os.path.relpath(full, _PKG_ROOT))
        os.replace(tmp, out)
    except BaseException:
        os.unlink(tmp)
        raise
    return out


def get_spark(
    app_name: str = "warc-bench-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    max_partition_bytes: int | None = None,
) -> SparkSession:
    """``max_partition_bytes`` sizes scan splits; locally our parquet inputs
    are tiny, so the default 128MB would bin-pack a whole table into 1-2
    scan tasks and serialize the map stage — benchmarks pass a small value
    so scan parallelism matches core count (on a real cluster the data
    volume does this naturally). ``cores`` defaults to ``SPARK_GRAFT_CPUS``,
    else to the CPUs this process may run on."""
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS") or 0) or len(os.sched_getaffinity(0))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # r8: 16g (was 8g). At 5x the r7 driver measurement scale the query
        # suite OOMs a broadcast build in-suite under 8g: localCheckpoint
        # blocks + broadcasts from the preceding heavy queries transiently
        # fill the unified region faster than the 1-min periodic-GC cleaner
        # drains them, and the next broadcast build finds no headroom
        # (isolated, the same query fits comfortably). Heap is lazily
        # committed, so small runs pay nothing; kernel t2/t8/t32 A/B'd flat.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # r8: localCheckpoint blocks (reused intermediates in the heavy
        # query plans) are only released after a JVM GC lets the
        # ContextCleaner's weak references fire; the default periodic-GC
        # interval (30 min) lets blocks from earlier queries pile up in
        # the protected storage region of a long-lived session and
        # squeeze later queries' execution memory. One minute bounds the
        # accumulation at negligible GC cost.
        .config(
            "spark.cleaner.periodicGC.interval",
            os.environ.get("SPARK_GRAFT_PERIODIC_GC", "1min"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
    )
    if max_partition_bytes is not None:
        builder = builder.config(
            "spark.sql.files.maxPartitionBytes", str(max_partition_bytes)
        ).config("spark.sql.files.openCostInBytes", str(max_partition_bytes // 4))
    spark = builder.getOrCreate()
    spark.sparkContext.addPyFile(_package_zip())
    return spark
