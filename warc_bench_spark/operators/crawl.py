"""The crawl engine: wave loop over snapshot-committed frontier state.

Spark re-expression of the reference crawl pipeline (SURVEY.md §3.1,
``/root/reference/src/orby/trajectory_collector/ray_scripts/
parallel_computing_controller.py:239-282`` — schedule batch, barrier, write,
next). One wave =

    frontier ──robots broadcast join + per-host virtual-time schedule──▶
             ──total order (vt, priority, url_hash), take budget──▶ admitted
    admitted ──▶ crawl_log Δ (its url_hash column is the URL-seen set)
    admitted ⋈ pages ⋈ documents ──explode spans, extract+canonicalize──▶
             new urls ──anti-join seen (Bloom prefilter)──anti-join frontier──▶
             new frontier rows (first discovery wins)
    one atomic snapshot commit (frontier replace + log/metrics append)

Determinism: every step is a pure function of (corpus, config); the final
order comes only from the explicit sort keys, so partition counts and skew
salting cancel out (SURVEY.md §7.3) — verified by the local[2]-vs-in-session
test (2 against 8 frontier partitions: the engine's repartitions take the
session's ``spark.sql.shuffle.partitions``) and the all-hot golden test.

Resume: `run()` always starts from the latest committed snapshot; a kill
between commits replays at most one wave's work and can never re-fetch a URL
recorded in the crawl log (the D1 "skip existing" semantics of
``parallel_computing_tasks.py:213-220`` lifted to snapshot level).

Scale notes (100 TB / 10^10-URL design point):
* the URL-seen set is the crawl log's url_hash column, as the reference's
  is the keyspace of its written outputs: one table, one write per wave.
  The dedup reads that column only (parquet prunes the rest).
* the per-wave dedup does not shuffle the log: the Bloom probe runs once
  over the discovered URLs, and the log's keys stream once through a
  semi-join against the flagged residue (the outlinks already seen plus
  the false positives), which is broadcast while it fits. Without the
  filter (``use_bloom=False``) the exact anti-join shuffles both sides;
  with Iceberg both would be bucketed on url_hash, making it shuffle-free.
  Wave 0 has no crawl log yet and runs no dedup.
* a rebuild builds the Bloom shards from per-task partial bitmaps ORed
  per shard, so it never shuffles seen keys. A wave's filter update ORs
  the admitted delta (at most ``budget_per_wave`` keys, the set step 4
  broadcasts) into the shards in the driver, with no Python stage.
* the frontier and compacted crawl_log files number
  ``spark.sql.shuffle.partitions`` per write, a session setting sized to
  the machine (``get_spark``: ``max(cores, 8)``), not a crawl-config
  constant.
* the admitted set is bounded by the politeness budget, so the global sort
  is a TakeOrderedAndProject (top-B), never a full sort of the frontier.
* the only Python in the hot path is the Arrow-vectorized canonicalizer and
  the Bloom probe; scheduling, hashing, extraction, joins are all JVM.
* url_hash is the 32-byte BINARY digest (``url_identity``), not the
  64-char hex string: ~32 B/row less traffic through every exchange, sort,
  cache and persisted table at equal CPU. Ordering, salting and shard
  assignment are bit-identical to the hex key the simulator uses
  (tests/test_binary_key.py); the public readers expose lowercase hex.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..config import CrawlConfig
from ..functions.urls import url_identity
from ..state import make_store
from .dedup import BloomStore, not_seen_bloom, not_seen_exact
from .extract import extract_outlinks
from .politeness import schedule_wave

FRONTIER_COLS = ["url_hash", "canonical_url", "host", "priority", "discovered_wave"]


@dataclass
class WaveStats:
    wave: int
    admitted: int
    new_urls: int
    frontier_left: int
    # wall seconds per wave phase (keyed by the action that triggers the
    # compute: Spark is lazy, so 'seen_write' includes the whole candidate
    # pipeline + politeness schedule + admission that its write forces).
    # Self-diagnosing bench records: BENCH/last_run.json carries the sums.
    phases: dict[str, float] = field(default_factory=dict)


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        cfg: CrawlConfig,
        corpus_dir: str,
        state_dir: str,
        use_bloom: bool = True,
    ):
        """``use_bloom``: Bloom prefilter ahead of the exact anti-join;
        False runs the exact anti-join alone (the golden reference path)."""
        self.spark = spark
        self.cfg = cfg
        self.use_bloom = use_bloom
        self.store = make_store(spark, state_dir)
        self.blooms = BloomStore(state_dir, cfg)
        self.pages = spark.read.parquet(os.path.join(corpus_dir, "pages"))
        self.documents = spark.read.parquet(os.path.join(corpus_dir, "documents"))
        self.seeds = spark.read.parquet(os.path.join(corpus_dir, "seeds"))
        self.robots = spark.read.parquet(os.path.join(corpus_dir, "robots"))

    # ------------------------------------------------------------------ utils

    def _partitions(self) -> int:
        """Partition count of the engine's url_hash repartitions (bootstrap
        and wave frontier, crawl_log compaction): the session's
        ``spark.sql.shuffle.partitions``, so output files are sized to the
        machine. A resumed crawl takes its own session's value; the crawl
        order does not depend on it."""
        return int(self.spark.conf.get("spark.sql.shuffle.partitions"))

    def _robots_allowed(self, df: DataFrame) -> DataFrame:
        """Drop robots-disallowed URLs (broadcast dimension join, J6).

        Path extraction is a regexp, not ``parse_url``: java.net.URI rejects
        URLs with raw non-URI chars (returns null), which would silently
        drop rows the simulator keeps. The regexp mirrors the simulator's
        string slicing exactly: everything from the first ``/`` after the
        netloc up to ``?``.
        """
        rules = self.robots.select("host", "disallow_prefixes")
        with_rules = df.join(F.broadcast(rules), "host", "left")
        # regexp_extract returns '' (never NULL) on no match, so the empty-
        # path guard must compare against '', matching the simulator's
        # path = '/' + rest default (synth.is_allowed)
        raw_path = F.regexp_extract("canonical_url", r"^[^:]+://[^/]+([^?]*)", 1)
        path = F.when(raw_path == "", F.lit("/")).otherwise(raw_path)
        blocked = F.exists(
            "disallow_prefixes", lambda p: path.startswith(p)
        )
        return with_rules.filter(
            F.col("disallow_prefixes").isNull() | ~blocked
        ).drop("disallow_prefixes")

    def _frontier_rows(self, raw: DataFrame, url_col: str) -> DataFrame:
        """Raw URLs -> one robots-allowed row per canonical URL, min
        priority wins: the one frontier-row rule for seeds and outlinks
        alike (the simulator's per-batch min, then its ``try_insert``)."""
        rows = (
            url_identity(raw, url_col)
            .groupBy("url_hash", "canonical_url", "host")
            .agg(F.min("priority").alias("priority"))
        )
        return self._robots_allowed(rows)

    # -------------------------------------------------------------- bootstrap

    def bootstrap(self) -> None:
        """Seed list -> wave-0 frontier snapshot (idempotent).

        Only the frontier is written: crawl_log starts as an ABSENT table
        (the wave-0 manifest lists no dirs for it) rather than an empty
        parquet dataset — an empty-DataFrame write job saved, and
        the seed count rides the frontier write as an Observation instead
        of a dedicated count() action."""
        if self.store.latest() is not None:
            return
        from pyspark.sql import Observation

        frontier = (
            self._frontier_rows(self.seeds, "url")
            .withColumn("discovered_wave", F.lit(0))
            .select(*FRONTIER_COLS)
        )
        obs = Observation()
        frontier = frontier.repartition(
            self._partitions(), "url_hash"
        ).observe(obs, F.count(F.lit(1)).alias("n"))
        rel = self.store.write_table("frontier", frontier, 0, mode="replace")
        self.store.publish(
            0,
            {"frontier": rel},
            {},
            extra={"next_wave": 0, "seq_end": 0, "frontier_count": int(obs.get["n"])},
        )

    # ------------------------------------------------------------------- wave

    def _run_wave(self, wave: int, seq_start: int, frontier_count: int) -> WaveStats:
        spark, cfg = self.spark, self.cfg
        n_parts = self._partitions()
        phases: dict[str, float] = {}
        _t0 = time.perf_counter()

        def _mark(phase: str) -> None:
            nonlocal _t0
            now = time.perf_counter()
            phases[phase] = phases.get(phase, 0.0) + (now - _t0)
            _t0 = now

        seen = self.store.read_table(spark, "crawl_log")

        # 1. candidates: the frontier as it stands (frontier ∩ crawl_log = ∅:
        #    step 5 dedups every URL before it enters). Persisted: the
        #    skew-aware rank consumes candidates twice (window + offsets
        #    histogram), and admission reuses them — one materialization.
        frontier = self.store.read_table(spark, "frontier").persist()

        # 2. politeness schedule (per-host virtual time, skew-aware rank).
        #    Hot-host detection counts the persisted frontier: the
        #    candidates have no upstream pipeline to re-run — see
        #    rank_in_host's docstring.
        hot_hosts = (
            frontier.groupBy("host")
            .agg(F.count(F.lit(1)).alias("_pending"))
            .filter(F.col("_pending") > cfg.hot_host_threshold)
            .select("host")
        )
        # (A narrow-rank variant — ranking on (url_hash, host, priority)
        # only and re-joining canonical_url onto the bounded admitted set —
        # was A/B'd in round 4 and measured a TIE at the 10^6 scale: the
        # narrower window exchange saves what the extra cache scan + join
        # cost. Rejected to keep one admission path; BENCH/BASELINE.md.)
        sched = schedule_wave(frontier, self.robots, cfg, hot_hosts=hot_hosts)

        # 3. admission: top-budget of the total order; seq assignment.
        #    (top-k via sort+limit: below spark.sql.execution.
        #    topKSortFallbackThreshold this is TakeOrderedAndProject; above,
        #    a global sort + limit — both bounded by the budget on output.)
        #    The admitted COUNT rides as an Observation on the first snapshot
        #    write (no dedicated count() job); if the wave turns out empty,
        #    the already-written crawl_log delta dir stays an unpublished
        #    orphan — exactly Iceberg's uncommitted-data-file semantics.
        from pyspark.sql import Observation

        order = [F.col("vt").asc(), F.col("priority").asc(), F.col("url_hash").asc()]
        obs_admitted = Observation()
        admitted = (
            sched.orderBy(*order)
            .limit(cfg.budget_per_wave)
            .withColumn("seq", F.row_number().over(Window.orderBy(*order)) + F.lit(seq_start))
            .observe(obs_admitted, F.count(F.lit(1)).alias("n"))
            .cache()
        )

        # the crawl log is also the URL-seen set: step 5's dedup reads its
        # url_hash column
        log_delta = admitted.select(
            F.col("seq").cast("long"),
            F.lit(wave).alias("wave"),
            "canonical_url",
            "host",
            F.col("vt").cast("long"),
            F.col("priority").cast("int"),
            "url_hash",
        )

        # first write triggers the admitted cache + observation
        replace_rels: dict[str, str] = {}
        append_rels: dict[str, str] = {}
        if (wave + 1) % cfg.compact_every == 0:
            # periodic rewrite of the log as one compact version, laid out
            # by url_hash (small-files control; Iceberg's rewrite_data_files)
            full_log = seen.unionByName(log_delta) if seen is not None else log_delta
            replace_rels["crawl_log"] = self.store.write_table(
                "crawl_log",
                full_log.repartition(n_parts, "url_hash"),
                wave + 1,
                mode="replace",
            )
        else:
            append_rels["crawl_log"] = self.store.write_table(
                "crawl_log", log_delta, wave + 1, mode="append"
            )
        n_admitted = int(obs_admitted.get["n"])
        _mark("schedule_seen_write")  # candidate pipeline + politeness +
        # admission + crawl_log write — everything the first action forces
        if n_admitted == 0:
            admitted.unpersist()
            frontier.unpersist()
            return WaveStats(wave, 0, 0, 0, phases)

        # 4. fetch + expand: admitted is budget-bounded -> broadcast side
        fetched = F.broadcast(admitted.select("canonical_url", "priority")).join(
            self.pages.select("canonical_url", "doc_id"), "canonical_url"
        )
        docs = fetched.join(self.documents, "doc_id")
        links = extract_outlinks(docs.select("doc_id", "priority", "spans"))
        new_urls = self._frontier_rows(
            links.withColumn("priority", F.col("priority") + 1), "raw_url"
        )

        # 5. next frontier: remove admitted; add first-discovered new URLs.
        #    The wave's one URL-seen dedup (D1/S11), Bloom-prefiltered; the
        #    shards are kept incrementally (BloomStore.covering owns the
        #    stamp gate). fresh then excludes the whole frontier, which
        #    holds admitted: the build side is the persisted frontier, not
        #    a second frontier⟂admitted subtree.
        remaining = frontier.join(admitted.select("url_hash"), "url_hash", "left_anti")
        shards: dict[int, bytes] = {}
        if seen is None:  # wave 0: the bootstrap manifest lists no crawl_log
            unseen = new_urls
        elif self.use_bloom:
            shards = self.blooms.covering(seen, wave)
            unseen = not_seen_bloom(spark, new_urls, seen, cfg, shards=shards)
        else:
            unseen = not_seen_exact(new_urls, seen)
        fresh = (
            unseen.join(frontier.select("url_hash"), "url_hash", "left_anti")
            .withColumn("discovered_wave", F.lit(wave + 1))
            .select(*FRONTIER_COLS)
        )
        # the frontier count AND the per-partition lineage histogram ride
        # the frontier WRITE as one Observation — no dedicated count() job
        # and no lineage groupBy job (round-1 had ~8 actions/wave; round 2
        # still spent a shuffle job on the lineage histogram). One
        # count-if per shuffle partition: the partition count is a session
        # setting, so this is a fixed-width aggregate evaluated in the
        # same pass as the write, regardless of data size.
        # Version-sensitivity note: spark_partition_id() is flagged
        # nondeterministic, and some Spark contexts reject nondeterministic
        # expressions inside aggregates — inside an Observation on the
        # deployed version this is accepted (pinned by the golden tests
        # that run run_wave end-to-end). The histogram width is capped so
        # the Observation stays a fixed-width aggregate even on a cluster
        # session with spark.sql.shuffle.partitions=2000; above the cap,
        # partition ids fold into `width` buckets (mod), which keeps the
        # skew signal while bounding the driver-side row width.
        hist_width = min(n_parts, 64)
        obs_frontier = Observation()
        part_counts = [
            F.count(F.when(F.spark_partition_id() % hist_width == i, 1)).alias(f"p{i}")
            for i in range(hist_width)
        ]
        # no cache: the write below is next_frontier's ONLY action now that
        # the count and the lineage histogram ride its Observation (round 2
        # cached it for the lineage groupBy's second pass)
        next_frontier = (
            remaining.select(*FRONTIER_COLS)
            .unionByName(fresh)
            .repartition(n_parts, "url_hash")
            .observe(obs_frontier, F.count(F.lit(1)).alias("n"), *part_counts)
        )
        replace_rels["frontier"] = self.store.write_table(
            "frontier", next_frontier, wave + 1, mode="replace"
        )
        n_frontier = int(obs_frontier.get["n"])
        n_new = n_frontier - (frontier_count - n_admitted)
        _mark("expand_frontier_write")

        # 6. metrics + per-partition lineage (X10 analog / north-star
        #    lineage). The histogram came out of the frontier write's
        #    Observation, so the metrics delta is a driver-local DataFrame:
        #    its write is one single-task job with no cache scan or shuffle.
        obs_row = obs_frontier.get
        metric_rows = [
            (wave, "frontier_partition_rows", str(i), int(obs_row[f"p{i}"]))
            for i in range(hist_width)
            if int(obs_row[f"p{i}"]) > 0
        ] + [
            (wave, "admitted", None, n_admitted),
            (wave, "new_urls", None, max(n_new, 0)),
            (wave, "frontier_left", None, n_frontier),
        ]
        # all values are driver scalars already — write_local_table puts
        # them down without a Spark job on the parquet store (the Iceberg
        # store routes the same call through a normal table commit, since
        # every Iceberg write must go through the table format)
        import pyarrow as pa

        cols = list(zip(*metric_rows))
        pa_tbl = pa.table(
            {
                "wave": pa.array(cols[0], pa.int32()),
                "metric": pa.array(cols[1], pa.string()),
                "key": pa.array(cols[2], pa.string()),
                "value": pa.array(cols[3], pa.int64()),
            }
        )
        append_rels["metrics"] = self.store.write_local_table(
            "metrics", pa_tbl, wave + 1
        )

        # 7. atomic snapshot publish: every data dir above exists; one
        #    manifest rename makes them all visible together.
        self.store.publish(
            wave + 1,
            replace_rels,
            append_rels,
            extra={
                "next_wave": wave + 1,
                "seq_end": seq_start + n_admitted,
                "frontier_count": n_frontier,
            },
        )
        _mark("metrics_publish")
        if self.use_bloom:
            # OR this wave's log delta into the persisted shard set; done
            # after the snapshot commit so a crash between the two leaves
            # shards stale-behind, which the stamp check repairs on resume
            self.blooms.update(shards, log_delta, wave)
        admitted.unpersist()
        frontier.unpersist()
        _mark("filter_update")
        return WaveStats(wave, n_admitted, max(n_new, 0), n_frontier, phases)

    # -------------------------------------------------------------------- run

    def run(self, max_waves: int | None = None) -> list[WaveStats]:
        """Run (or resume) until the frontier drains or the wave cap hits."""
        self.bootstrap()
        cap = max_waves if max_waves is not None else self.cfg.max_waves
        stats: list[WaveStats] = []
        while True:
            manifest = self.store.latest()
            wave = manifest["next_wave"]
            if wave >= cap:
                break
            n_frontier = manifest["frontier_count"]
            if n_frontier == 0:
                break
            s = self._run_wave(wave, manifest["seq_end"], n_frontier)
            stats.append(s)
            if s.admitted == 0:
                break
        return stats

    # ---------------------------------------------------------------- readers
    # Absent tables (a bootstrap-only store, or a corpus whose seeds were
    # all robots-blocked) read as typed EMPTY DataFrames, never None — the
    # golden comparison against the simulator's empty log must still work.

    def crawl_log(self) -> DataFrame:
        """Public reader: the crawl order, without the stored url_hash key
        (``url_seen`` exposes it)."""
        df = self.store.read_table(self.spark, "crawl_log")
        if df is None:
            return self.spark.createDataFrame(
                [],
                "seq long, wave int, canonical_url string, host string, "
                "vt long, priority int",
            )
        return df.drop("url_hash").orderBy("seq")

    def url_seen(self) -> DataFrame:
        """Public reader: the URL-seen set, a view of the crawl log. url_hash
        is the lowercase sha256 hex here, not the stored 32-byte digest
        (golden comparisons and downstream consumers key on the hex form)."""
        df = self.store.read_table(self.spark, "crawl_log")
        if df is None:
            return self.spark.createDataFrame(
                [], "url_hash string, canonical_url string, wave int"
            )
        return df.select(
            F.lower(F.hex("url_hash")).alias("url_hash"), "canonical_url", "wave"
        )

    def metrics(self) -> DataFrame:
        df = self.store.read_table(self.spark, "metrics")
        if df is None:
            return self.spark.createDataFrame(
                [], "wave int, metric string, key string, value long"
            )
        return df
