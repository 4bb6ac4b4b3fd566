"""Embedding similarity search: brute-force top-k + two ANN scale paths.

* brute-force — the correctness baseline (O(N·P) dots, all JVM-side array
  folds, no Python);
* banded random-hyperplane LSH (``lsh_knn``) — candidates share at least
  one band signature; recall tunable via band count / bits / multi-probe;
* IVF (``ivf_knn``) — a coarse k-means quantizer (trained on a seeded
  sample, the standard IVF recipe) partitions vectors into cells; probes
  search only their ``n_probe`` nearest cells. Cell assignment is an
  Arrow-batched matrix multiply against broadcast centroids; the candidate
  join is an equi-join on the cell id.

Everything is deterministic: hyperplanes/centroids come from seeded numpy
RNGs, so signatures and cell ids are pure functions of (vector, seed).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot_col(a, b) -> Column:
    """JVM-side dot product of two array<numeric> columns (exact double)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_col(a) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_col(a, b) -> Column:
    return dot_col(a, b) / (norm_col(a) * norm_col(b))


def brute_force_knn(
    embeddings: DataFrame,
    probes: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
    probe_vec_col: str = "probe_vec",
) -> DataFrame:
    """Exact cosine top-k per probe. Probes are broadcast (small side)."""
    joined = embeddings.crossJoin(F.broadcast(probes))
    scored = joined.select(
        probe_id_col,
        id_col,
        cosine_col(F.col(vec_col), F.col(probe_vec_col)).alias("cosine"),
    )
    w = Window.partitionBy(probe_id_col).orderBy(F.desc("cosine"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy(probe_id_col, "rank")
    )


def hyperplanes(dim: int, n_bits: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_bits, dim)).tolist()


def signature_col(vec_col, planes: list[list[float]]) -> Column:
    """n_bits LSH signature: bit j = sign(dot(vec, plane_j)) — JVM-side."""
    bits = []
    for j, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(float(x)) for x in plane])
        bits.append(
            F.when(dot_col(vec_col, lit_plane) > 0, F.lit(1 << j)).otherwise(F.lit(0))
        )
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("long")


def _band_structs(vec_col, planes: list[list[float]], band_bits: int, flips: bool):
    """One (band, sig) struct per band; with ``flips``, also every 1-bit
    neighbor of the signature (multi-probe, probe side only)."""
    out = []
    n_bands = len(planes) // band_bits
    for b in range(n_bands):
        sub = planes[b * band_bits : (b + 1) * band_bits]
        sig = signature_col(vec_col, sub)
        variants = [sig]
        if flips:
            variants += [sig.bitwiseXOR(F.lit(1 << j)) for j in range(band_bits)]
        out += [
            F.struct(F.lit(b).alias("band"), v.cast("long").alias("sig"))
            for v in variants
        ]
    return out


def lsh_knn(
    embeddings: DataFrame,
    probes: DataFrame,
    dim: int,
    k: int = 10,
    band_bits: int = 8,
    n_bands: int = 4,
    multi_probe: bool = True,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
    probe_vec_col: str = "probe_vec",
) -> DataFrame:
    """Approximate top-k: banded LSH bucket join + exact cosine re-rank.

    Classic OR-of-ANDs banding: ``n_bands`` independent signatures of
    ``band_bits`` bits each; a vector is a candidate for a probe if ANY band
    matches. ``multi_probe`` additionally probes every 1-bit neighbor of
    each probe-side band signature (cheap: probes are the small side), so
    recall stays high without shrinking buckets. Bucket space scales as
    ``n_bands * 2^band_bits`` — raise ``band_bits`` as the corpus grows so
    per-bucket candidate counts stay bounded; the per-probe candidate set is
    deduplicated before the exact re-rank.

    ``dim`` is required (plan construction must not run driver-side actions
    to discover it; the caller knows its embedding dimensionality).
    """
    planes = hyperplanes(dim, n_bands * band_bits, seed)
    e_sig = embeddings.select(
        id_col,
        vec_col,
        F.explode(F.array(*_band_structs(F.col(vec_col), planes, band_bits, False))).alias("_bs"),
    ).select(id_col, vec_col, "_bs.band", "_bs.sig")
    p_sig = probes.select(
        probe_id_col,
        probe_vec_col,
        F.explode(
            F.array(*_band_structs(F.col(probe_vec_col), planes, band_bits, multi_probe))
        ).alias("_bs"),
    ).select(probe_id_col, probe_vec_col, "_bs.band", "_bs.sig")
    candidates = (
        e_sig.join(F.broadcast(p_sig), ["band", "sig"])
        .select(probe_id_col, id_col, vec_col, probe_vec_col)
        .dropDuplicates([probe_id_col, id_col])
    )
    scored = candidates.select(
        probe_id_col,
        id_col,
        cosine_col(F.col(vec_col), F.col(probe_vec_col)).alias("cosine"),
    )
    w = Window.partitionBy(probe_id_col).orderBy(F.desc("cosine"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy(probe_id_col, "rank")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN
# ---------------------------------------------------------------------------

def kmeans_fit(x: np.ndarray, k: int, iters: int = 15, seed: int = 42) -> np.ndarray:
    """Plain seeded Lloyd's k-means on l2-normalized rows (cosine cells).

    This is the IVF *training* step — in FAISS terms, training the coarse
    quantizer on a sample. Deterministic: seeded init, fixed iterations,
    ties broken by index.
    """
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    centroids = x[rng.choice(len(x), size=k, replace=False)]
    for _ in range(iters):
        assign = np.argmax(x @ centroids.T, axis=1)
        for c in range(k):
            members = x[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)
        centroids /= np.maximum(np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12)
    return centroids


def ivf_knn(
    embeddings: DataFrame,
    probes: DataFrame,
    dim: int,
    k: int = 10,
    n_centroids: int = 64,
    n_probe: int = 4,
    fit_sample: int = 4096,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
    probe_vec_col: str = "probe_vec",
) -> DataFrame:
    """IVF approximate top-k: coarse-quantize to ``n_centroids`` cells,
    search each probe's ``n_probe`` nearest cells, exact cosine re-rank.

    The quantizer trains on a deterministic sample (one bounded collect —
    training data, not the corpus; FAISS trains the same way). Assignment
    runs as an Arrow-batched matmul against broadcast centroids; at the
    10^10 design point the candidate join is an equi-join on the cell id,
    shuffle-partitionable like any key join. Recall is tuned by
    ``n_probe``/``n_centroids`` — see the planted-neighbor recall test.
    """
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType

    sample = (
        embeddings.select(vec_col)
        .orderBy(F.crc32(F.concat_ws(",", F.col(vec_col).cast("array<string>"))))
        .limit(fit_sample)
        .collect()
    )
    x = np.array([r[0] for r in sample], dtype=np.float64)
    centroids = kmeans_fit(x, min(n_centroids, len(x)), seed=seed)
    sc = embeddings.sparkSession.sparkContext
    bc = sc.broadcast(centroids)

    def _cells(series: pd.Series, top: int) -> pd.Series:
        # ONE stacked matmul per Arrow batch (no per-row Python): normalize
        # the (batch, dim) matrix, multiply against the centroid matrix,
        # then rank cells. argsort of the negated sims keeps the
        # deterministic index tiebreak of the scalar formulation.
        c = bc.value
        if len(series) == 0:
            return pd.Series([], dtype=object)
        x = np.stack([np.asarray(v, dtype=np.float64) for v in series])
        x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        sims = x @ c.T  # (batch, n_centroids)
        ranked = np.argsort(-sims, axis=1, kind="stable")[:, :top]
        return pd.Series([[int(i) for i in row] for row in ranked])

    @pandas_udf(IntegerType())
    def cell_of(vs: pd.Series) -> pd.Series:
        return _cells(vs, 1).map(lambda l: l[0])

    @pandas_udf(ArrayType(IntegerType()))
    def probe_cells(vs: pd.Series) -> pd.Series:
        return _cells(vs, n_probe)

    e_cell = embeddings.withColumn("_cell", cell_of(F.col(vec_col)))
    p_cell = probes.withColumn(
        "_cell", F.explode(probe_cells(F.col(probe_vec_col)))
    )
    candidates = e_cell.join(F.broadcast(p_cell), "_cell").select(
        probe_id_col, id_col, vec_col, probe_vec_col
    )
    scored = candidates.select(
        probe_id_col,
        id_col,
        cosine_col(F.col(vec_col), F.col(probe_vec_col)).alias("cosine"),
    )
    w = Window.partitionBy(probe_id_col).orderBy(F.desc("cosine"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy(probe_id_col, "rank")
    )


def banded_candidate_pairs(
    sig: DataFrame,
    band_cols: list[str],
    id_col: str = "doc_id",
    max_bucket_size: int = 64,
) -> DataFrame:
    """LSH band self-join with a bucket-size cap (the 'stop bucket' guard).

    A degenerate band value (boilerplate duplicated across thousands of
    docs) would make its bucket's self-join quadratic; buckets larger than
    ``max_bucket_size`` are dropped from candidate generation — the
    standard LSH-dedup heuristic (such clusters are found by the exact
    digest pass instead).

    r8 shape (guide §2.4 "remove shuffles outright" + §5, the q71 plan
    discipline): the previous band SELF-JOIN evaluated the ``sig``
    pipeline twice — and upstream ``sig`` is the expensive part (the
    minhash stage hashes every shingle 4x) — and shuffled both copies
    plus a window count for the cap on each side. Now ``sig`` is
    materialized once (localCheckpoint); the cap is a partially-
    aggregable COUNT (map-side combine drops a degenerate boilerplate
    bucket without ever concentrating its raw rows in one task, which a
    count window would); ids are collected only for SURVIVING buckets
    (<= cap by the guard, so the aggregation buffer is bounded); and a
    JVM transform/filter/flatten lambda enumerates the doc_a < doc_b
    pairs. Emitted pair multiset is identical (every unordered id pair
    within a surviving bucket, exactly once)."""
    sig = sig.localCheckpoint()
    kept = (
        sig.groupBy(*band_cols)
        .agg(F.count(F.lit(1)).alias("_bn"))
        .filter((F.col("_bn") >= 2) & (F.col("_bn") <= max_bucket_size))
        .select(*band_cols)
    )
    grp = (
        sig.join(kept, band_cols)
        .groupBy(*band_cols)
        .agg(F.collect_list(F.col(id_col)).alias("_ids"))
    )
    pairs = F.expr(
        "flatten(transform(_ids, x ->"
        " transform(filter(_ids, y -> x < y), y ->"
        " struct(x AS doc_a, y AS doc_b))))"
    )
    return grp.select(F.explode(pairs).alias("_p")).select("_p.doc_a", "_p.doc_b")


def banded_star_edges(
    sig: DataFrame,
    band_cols: list[str],
    id_col: str = "doc_id",
    max_bucket_size: int = 64,
) -> DataFrame:
    """Band-bucket STAR graph (doc ↔ its bucket's min id) as (doc_a, doc_b).

    Every bucket the capped pair generator would emit is a clique, and a
    clique has the same connected components as the star through any one
    of its members — so clustering over these edges yields EXACTLY the
    components of ``banded_candidate_pairs`` while emitting O(rows·bands)
    edges instead of O(Σ bucket²) pairs. This is the 100-TB formulation
    for the pairs→clusters step: the quadratic enumeration is only ever
    needed when each pair must be VERIFIED individually (q60); clustering
    alone never needs it. One window pass (count + min share the same
    partition spec → one exchange), no self-join. Vertex set matches the
    pair graph too: docs in buckets of size ≥ 2 (a size-1 bucket's doc is
    its own min and drops out).
    """
    w = Window.partitionBy(*band_cols)
    return (
        sig.withColumn("_bn", F.count(F.lit(1)).over(w))
        .withColumn("_bmin", F.min(id_col).over(w))
        .filter((F.col("_bn") <= max_bucket_size) & (F.col(id_col) != F.col("_bmin")))
        .select(F.col(id_col).alias("doc_a"), F.col("_bmin").alias("doc_b"))
        .distinct()
    )

