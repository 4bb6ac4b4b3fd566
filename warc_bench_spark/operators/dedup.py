"""URL-seen deduplication: Bloom-shard prefilter + exact anti-join.

The reference's URL-seen set is the S3 keyspace itself, probed with per-URL
HEAD requests (``/root/reference/src/orby/digitalagent/utils/s3_utils.py:
152-180``, used at ``parallel_computing_tasks.py:213-220``). That check is
**exact**, so ours must be too (SURVEY.md §7.4 item 4): the Bloom shards are
only ever a prefilter that lets the vast majority of genuinely-new URLs skip
the exact check entirely; the ``left_anti`` join against the crawl log's
url_hash column is always the authoritative answer for URLs the Bloom
flags. Like the reference's keyspace, the seen set is the record of what
was written: the engine keeps no separate seen table.

    new = candidates ⟕̸ seen                (exact, always correct)
        = fresh ∪ residue ⟕̸ (seen ⋉ residue.url_hash)
    where seen = crawl_log.url_hash,
          fresh = candidates[¬bloom], residue = candidates[bloom]

The probe runs once, and the seen keys stream once through a semi-join
against the residue keys instead of being hash-shuffled whole (see
``not_seen_bloom``). A Bloom false positive only costs one extra row
through the semi- and anti-join; a false negative is impossible by
construction, so no unseen URL is ever dropped and no seen URL ever
re-admitted.

A key's shard is ``h1 % n_shards`` and the shards are broadcast as a dict
of numpy bitmaps; the probe is an Arrow-vectorized pandas UDF. Bit positions
use double hashing: pos_i = (h1 + i*h2) mod m with h1, h2 taken from
disjoint 60-bit slices of the sha256 digest — the same values whether the
key is the hex string (query plans) or the engine's 32-byte binary digest
(``url_identity``), so shard files are deterministic across engine runs.
"""

from __future__ import annotations

import os
import warnings

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BinaryType, BooleanType

from ..config import CrawlConfig

# npz key holding a shard file's (bloom_shards, bloom_bits_per_shard,
# bloom_hashes); shard ids are the other keys
_GEOMETRY = "geometry"
# bitmap_or_agg ORs binary values into a fixed 4096-byte buffer and drops
# any bytes past it, so partial shard bitmaps are aggregated in chunks
_OR_CHUNK = 4096


def is_binary_key(df: DataFrame, col: str = "url_hash") -> bool:
    """Schema-derived key-encoding flag (binary in the engine, hex in
    query plans and tests). Thread THIS into the Arrow closures below —
    the encoding is a plan-time fact, and deciding it structurally keeps
    the safety-critical Bloom decode from ever mis-dispatching on a
    surprising element representation."""
    return isinstance(df.schema[col].dataType, BinaryType)


def hex_slices_u64(
    keys: pd.Series, binary: bool | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """(digest bits 0-59, bits 60-119) as uint64 — fully vectorized, for
    EITHER key encoding (the name predates the binary carry).

    Hex strings: ``(int(hex[:15], 16), int(hex[15:30], 16))`` — the
    per-element ``int(s, 16)`` this replaces was row-at-a-time Python
    inside the Arrow batch (the kernel's hottest inner loop). The hex
    strings become a byte matrix; digits decode with one arithmetic pass
    and fold column-wise (30 vector ops total, independent of row count).

    32-byte BINARY digests (the engine's key, ``url_identity``): the
    same two 60-bit values folded straight from the raw bytes — bits
    0-63 >> 4 and bits 56-119 masked to the low 60 — so shard assignment
    and Bloom bit positions are IDENTICAL across encodings; the hex
    branch is the reference for that bit layout
    (tests/test_binary_key.py pins it).

    ``binary``: pass the schema-derived flag (``is_binary_key``) from
    every engine call site — the encoding is a plan-time fact, and a
    structural flag can never mis-dispatch on an unexpected element
    representation. ``None`` (tests/ad-hoc only) sniffs the first
    element.
    """
    if binary is None:
        binary = bool(len(keys)) and isinstance(keys.iloc[0], (bytes, bytearray))
    if binary and len(keys):
        b = np.frombuffer(
            np.asarray(keys, dtype="S32").tobytes(), dtype=np.uint8
        ).reshape(-1, 32)
        h1 = np.zeros(len(b), dtype=np.uint64)
        h2 = np.zeros(len(b), dtype=np.uint64)
        for j in range(8):
            h1 = (h1 << np.uint64(8)) | b[:, j]
        for j in range(7, 15):
            h2 = (h2 << np.uint64(8)) | b[:, j]
        return h1 >> np.uint64(4), h2 & np.uint64((1 << 60) - 1)
    b = np.frombuffer(
        np.asarray(keys, dtype="S30").tobytes(), dtype=np.uint8
    ).reshape(-1, 30)
    d = np.where(b >= 97, b - 87, b - 48).astype(np.uint64)  # 'a'-'f' | '0'-'9'
    h1 = np.zeros(len(d), dtype=np.uint64)
    h2 = np.zeros(len(d), dtype=np.uint64)
    for j in range(15):
        h1 = (h1 << np.uint64(4)) | d[:, j]
        h2 = (h2 << np.uint64(4)) | d[:, j + 15]
    return h1, h2


def _hex_slices_u64(
    hexes: pd.Series, binary: bool | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """Bloom variant: (h1, h2|1) — h2 forced odd for double hashing."""
    h1, h2 = hex_slices_u64(hexes, binary)
    return h1, h2 | np.uint64(1)


def not_seen_exact(candidates: DataFrame, seen: DataFrame) -> DataFrame:
    """The authoritative dedup: left anti join on url_hash (D1/S11).

    The engine's dedup without the filter (``use_bloom=False``) and the
    reference the Bloom path must equal. ``seen`` is the crawl log; only
    its url_hash column is read. Strategy: SHUFFLE_HASH, not broadcast —
    at the 10^10-URL design point the seen keys can never broadcast, so
    this join hash-shuffles both sides (co-partitioned when both tables
    are bucketed on url_hash at write time, Iceberg bucketing on a real
    deployment). ``not_seen_bloom`` avoids that shuffle by semi-joining
    the seen keys against the small flagged residue instead.
    """
    return candidates.join(
        seen.select("url_hash").hint("SHUFFLE_HASH"), "url_hash", "left_anti"
    )


def _bloom_bitmaps(
    key_batches, binary: bool, cfg: CrawlConfig
) -> tuple[np.ndarray, np.ndarray]:
    """Set the keys' bits in all n_shards bitmaps: (ids of the shards
    holding a key, their packed bitmaps). The one implementation of the bit
    layout — shard h1 % n_shards, pos_i = (h1 + i*h2) mod m, bit pos % 8 of
    byte pos // 8 — shared by ``build_bloom_shards``' per-task partials and
    ``collect_bloom_shards``' driver-side build."""
    m = np.uint64(cfg.bloom_bits_per_shard)
    n_shards = cfg.bloom_shards
    bits = np.zeros((n_shards, cfg.bloom_bits_per_shard), dtype=bool)
    for keys in key_batches:
        h1, h2 = _hex_slices_u64(keys, binary)
        sid = (h1 % np.uint64(n_shards)).astype(np.int64)
        for i in range(cfg.bloom_hashes):
            bits[sid, ((h1 + np.uint64(i) * h2) % m).astype(np.int64)] = True
    used = np.flatnonzero(bits.any(axis=1))  # every key sets >= 1 bit
    return used, np.packbits(bits[used], axis=1, bitorder="little")


def build_bloom_shards(seen: DataFrame, cfg: CrawlConfig) -> dict[int, bytes]:
    """Aggregate the seen keys (the crawl log's url_hash column) into
    n_shards bitmap blobs without shuffling keys.

    Each scan task sets its keys' bits in all n_shards bitmaps; a JVM
    aggregate then ORs the partial bitmaps per shard — a groupBy over
    tasks x shards rows (in 4 KB chunks), never over keys, and the driver
    receives each shard's bitmap once. Only shards holding a key appear in
    the result.
    """
    m = cfg.bloom_bits_per_shard
    n_chunks = -(-(m // 8) // _OR_CHUNK)
    binary = is_binary_key(seen)  # plan-time fact, fixed into the closure

    def partial_bitmaps(batches):
        used, packed = _bloom_bitmaps((pdf["url_hash"] for pdf in batches), binary, cfg)
        if len(used):
            yield pd.DataFrame(
                {
                    "shard": np.repeat(used, n_chunks).astype(np.int32),
                    "chunk": np.tile(np.arange(n_chunks, dtype=np.int32), len(used)),
                    "bitmap": [
                        row[c * _OR_CHUNK : (c + 1) * _OR_CHUNK].tobytes()
                        for row in packed
                        for c in range(n_chunks)
                    ],
                }
            )

    rows = (
        seen.select("url_hash")
        .mapInPandas(partial_bitmaps, "shard int, chunk int, bitmap binary")
        .groupBy("shard", "chunk")
        .agg(F.bitmap_or_agg("bitmap").alias("bitmap"))
        .collect()
    )
    chunks: dict[int, list[bytes]] = {}
    for r in sorted(rows, key=lambda r: (r["shard"], r["chunk"])):
        chunks.setdefault(r["shard"], []).append(r["bitmap"])
    # each chunk comes back as a full buffer: cut the last one's padding
    return {sid: b"".join(c)[: m // 8] for sid, c in chunks.items()}


def collect_bloom_shards(df: DataFrame, cfg: CrawlConfig) -> dict[int, bytes]:
    """``build_bloom_shards`` for a frame small enough to collect: its
    url_hash column comes to the driver over Arrow and the bits are set in
    numpy, so no Python worker stage runs. Each Python stage costs a fixed
    few tenths of a second before its first row, which dominates a wave's
    delta of at most ``budget_per_wave`` keys."""
    keys = df.select("url_hash").toPandas()["url_hash"]
    used, packed = _bloom_bitmaps([keys], is_binary_key(df), cfg)
    return {int(sid): row.tobytes() for sid, row in zip(used, packed)}


def bloom_maybe_udf(
    spark: SparkSession,
    shards: dict[int, bytes],
    cfg: CrawlConfig,
    binary: bool = False,
):
    """Vectorized membership probe against broadcast shards. ``binary`` is
    the probed column's schema-derived encoding (``is_binary_key``)."""
    m = cfg.bloom_bits_per_shard
    k = cfg.bloom_hashes
    n_shards = cfg.bloom_shards
    arrays = {s: np.frombuffer(b, dtype=np.uint8) for s, b in shards.items()}
    bshards = spark.sparkContext.broadcast(arrays)

    @pandas_udf(BooleanType())
    def maybe_seen(hexes: pd.Series) -> pd.Series:
        local = bshards.value
        h1, h2 = _hex_slices_u64(hexes, binary)
        shard_ids = (h1 % np.uint64(n_shards)).astype(np.int64)
        out = np.zeros(len(hexes), dtype=bool)
        for sid in np.unique(shard_ids):
            bits = local.get(int(sid))
            sel = shard_ids == sid
            if bits is None:
                continue  # empty shard -> definitely unseen
            ok = np.ones(sel.sum(), dtype=bool)
            hh1, hh2 = h1[sel], h2[sel]
            for i in range(k):
                pos = (hh1 + np.uint64(i) * hh2) % np.uint64(m)
                ok &= (bits[(pos // 8).astype(np.int64)] >> (pos % 8).astype(np.uint8)) & 1 == 1
            out[sel] = ok
        return pd.Series(out)

    return maybe_seen


def not_seen_bloom(
    spark: SparkSession,
    candidates: DataFrame,
    seen: DataFrame,
    cfg: CrawlConfig,
    shards: dict[int, bytes],
) -> DataFrame:
    """Bloom prefilter + exact check of the flagged residue; equals
    ``not_seen_exact(candidates, seen)``.

    The probe runs once: the flagged candidates are a lazy local
    checkpoint that both branches read. The crawl log's url_hash column
    streams once through a semi-join against the residue keys, and the
    residue is anti-joined with those hits. The residue holds the
    candidates already seen (in the engine, outlinks to URLs already
    crawled) plus the Bloom false positives. No join hint: the planner
    broadcasts the residue while its size estimate fits
    ``autoBroadcastJoinThreshold``, so the log is not shuffled, and falls
    back to a shuffle join when it does not.

    ``shards`` must cover all of ``seen`` (``BloomStore.covering``).
    """
    if not shards:
        return candidates
    maybe = bloom_maybe_udf(spark, shards, cfg, binary=is_binary_key(candidates))
    flagged = candidates.withColumn("_maybe", maybe(F.col("url_hash"))).localCheckpoint(
        eager=False
    )
    fresh = flagged.filter(~F.col("_maybe")).drop("_maybe")
    residue = flagged.filter(F.col("_maybe")).drop("_maybe")
    hits = seen.select("url_hash").join(residue.select("url_hash"), "url_hash", "left_semi")
    return fresh.unionByName(residue.join(hits, "url_hash", "left_anti"))


class BloomStore:
    """Incremental sharded Bloom filter persisted alongside the snapshots.

    The seen set only ever grows, and Bloom bitmaps OR monotonically, so
    instead of rebuilding the shards from the crawl log's full url_hash
    column every wave (a full-table aggregation), each wave ORs in the
    bitmap of its *delta* and writes the merged shards next to the
    snapshot manifest. The delta is the wave's crawl-log delta, at most
    ``budget_per_wave`` keys, so its url_hash column is collected and its
    bits ORed in the driver, with no Python worker stage. Files are
    stamped with the wave they cover and record the geometry (shards,
    bits per shard, hashes) they were built with; only the newest file is
    kept.

    Crash safety — this is the safety-critical invariant: a stale
    (pre-crash) shard set produces false NEGATIVES, and in
    ``not_seen_bloom`` a false negative BYPASSES the exact anti-join — the
    discovery dedup would put a seen URL back on the frontier. The engine
    therefore takes its shards only from ``covering``, which rebuilds from
    the crawl log's url_hash column, with a warning, whenever the stamp
    does not cover every committed log delta. A file built under another
    geometry, or one that does not read back, counts as no file at all.
    """

    def __init__(self, root: str, cfg: CrawlConfig):
        self.dir = os.path.join(root, "_bloom")
        os.makedirs(self.dir, exist_ok=True)
        self.cfg = cfg
        self.geometry = [cfg.bloom_shards, cfg.bloom_bits_per_shard, cfg.bloom_hashes]

    def _path(self, wave: int) -> str:
        return os.path.join(self.dir, f"shards_{wave:06d}.npz")

    def load(self, up_to_wave: int) -> tuple[dict[int, bytes], int]:
        """Newest shard set covering a wave <= up_to_wave; ({}, -1) if none,
        if it was built under another geometry, or if it does not read."""
        best = -1
        for name in os.listdir(self.dir):
            # crash leftovers look like 'shards_000005.npz.tmp.npz' — they
            # must never be selected (a truncated npz would fail np.load)
            if name.startswith("shards_") and name.endswith(".npz") and ".tmp" not in name:
                w = int(name[7:13])
                if w <= up_to_wave and w > best:
                    best = w
        if best < 0:
            return {}, -1
        path = self._path(best)
        try:
            with np.load(path) as data:
                geometry = data[_GEOMETRY].tolist() if _GEOMETRY in data.files else None
                if geometry != self.geometry:
                    warnings.warn(
                        f"Bloom shard file {path} was built with geometry "
                        f"{geometry}, not {self.geometry} (shards, bits per "
                        "shard, hashes); ignoring it"
                    )
                    return {}, -1
                shards = {
                    int(k): data[k].tobytes() for k in data.files if k != _GEOMETRY
                }
        except Exception as e:
            warnings.warn(
                f"unreadable Bloom shard file {path} ({e!r}); ignoring it"
            )
            return {}, -1
        return shards, best

    def covering(self, seen: DataFrame, wave: int) -> dict[int, bytes]:
        """Shards covering every committed log delta before ``wave``.

        The stamp gate: the snapshot for ``wave`` holds the deltas of waves
        < ``wave``, so a stamp below ``wave - 1`` (a crash between publish
        and update, a stretch run without the filter, or no usable file)
        would miss some of them — rebuild from the full ``seen`` log.
        """
        shards, stamp = self.load(up_to_wave=wave)
        if stamp < wave - 1:
            warnings.warn(
                f"Bloom shard stamp {stamp} does not cover wave {wave} (needs "
                f"{wave - 1}); rebuilding the filter from the crawl log"
            )
            shards = build_bloom_shards(seen, self.cfg)
        return shards

    def update(
        self, shards: dict[int, bytes], delta: DataFrame, wave: int
    ) -> dict[int, bytes]:
        """OR the delta's bitmaps into the shard set, persist it atomically
        and delete every other file in the store (``covering`` never needs
        an older stamp: stamps are written after publish, so the newest is
        always the latest committed wave - 1). ``delta`` is one wave's
        crawl-log delta, bounded by ``budget_per_wave``, so its bits are set
        in the driver (``collect_bloom_shards``)."""
        delta_shards = collect_bloom_shards(delta, self.cfg)
        merged = dict(shards)
        for sid, blob in delta_shards.items():
            if sid in merged:
                merged[sid] = (
                    np.frombuffer(merged[sid], dtype=np.uint8)
                    | np.frombuffer(blob, dtype=np.uint8)
                ).tobytes()
            else:
                merged[sid] = blob
        path = self._path(wave)
        tmp = path + ".tmp.npz"
        np.savez(
            tmp.removesuffix(".npz"),
            **{str(k): np.frombuffer(v, dtype=np.uint8) for k, v in merged.items()},
            **{_GEOMETRY: np.array(self.geometry, dtype=np.int64)},
        )
        os.rename(tmp, path)
        for name in os.listdir(self.dir):
            if name != os.path.basename(path):
                os.remove(os.path.join(self.dir, name))
        return merged
