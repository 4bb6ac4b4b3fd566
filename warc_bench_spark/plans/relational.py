"""Relational operator inventory for the driver's DuckDB oracle.

Each entry re-expresses one operator family from SURVEY.md §2 (reference
file:line cited per query) as a declarative DataFrame plan over the
driver-provided star schema (`/root/testdata/sf*`), paired with an ANSI-SQL
oracle string DuckDB runs on the same parquet.

Cross-engine exactness rules used throughout (so the order-insensitive
value-hash matches bit-for-bit):

* money sums go through DECIMAL casts (exact accumulation, order-invariant)
  and are cast to DOUBLE once at the end;
* averages of integers are exact in IEEE double regardless of order;
* per-row arithmetic (ratios, divisions) is deterministic and engine-stable;
* every aggregate/computed column is aliased identically on both sides;
* timestamps that reach the output are formatted to strings.
"""

from __future__ import annotations

import os
import re
import warnings
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


@dataclass
class Q:
    fn: Callable[[SparkSession, str], DataFrame]
    sql: str | None  # DuckDB oracle; None -> rows-only check


REGISTRY: dict[str, Q] = {}


def register(name: str, sql: str | None):
    def deco(fn):
        REGISTRY[name] = Q(fn, sql)
        return fn

    return deco


# Scan-spread guard (optimization guide §2.5 "input skew: one huge
# unsplittable file → repartition immediately after the read", §6): the
# local sf tables are single-file, mostly single-ROW-GROUP parquet, so a
# scan yields 1-2 non-splittable tasks no matter how small
# maxPartitionBytes goes — and every pre-exchange stage (scan + project +
# explode/regex/gram-hash/Python) runs near-single-threaded. Queries
# whose FIRST stage does heavy per-row work (sha/gram hashing, regex,
# codecs, higher-order lambdas) opt in with ``spread=True``: when the
# size-derived split count cannot fill the session's parallelism, the
# read gets ONE hash repartition on the table's key (hash, not
# round-robin: a keyless repartition first pays a local SORT of the
# unsplit input — sortBeforeRepartition — which r8 measured as a net
# LOSS on cheap queries; key-hash is sort-free and retry-deterministic,
# guide §2.5). Stays opt-in because a query whose big table otherwise
# never shuffles (broadcast-join + partial-agg pipelines, e.g. q02)
# only pays for the added exchange. Scale-adaptive by construction: on
# a real cluster `size/maxPartitionBytes < defaultParallelism` is false
# for any table big enough to matter, so this is a local-layout fix,
# not a local[32] tuning constant. Env-tunable floor; 0 disables.
_SPREAD_MIN_BYTES = int(
    os.environ.get("SPARK_GRAFT_SCAN_SPREAD_MIN_BYTES", str(2 * 1024 * 1024))
)
_SPREAD_CACHE: dict[tuple[str, int], int] = {}
_TABLE_KEYS: dict[str, list[str]] = {
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "lineitem": ["l_orderkey", "l_linenumber"],
    "orders": ["o_orderkey"],
    "customer": ["c_custkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
}


def _conf_bytes(val: str) -> int:
    m = re.fullmatch(r"(\d+)([kmgtp]?)b?", val.strip().lower())
    if not m:
        return 128 * 1024 * 1024
    exp = 1 + "kmgtp".index(m.group(2)) if m.group(2) else 0
    return int(m.group(1)) * 1024**exp


def t(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    if not spread or not _SPREAD_MIN_BYTES:
        return df
    par = spark.sparkContext.defaultParallelism
    key = (path, par)
    n = _SPREAD_CACHE.get(key)
    if n is None:
        if os.path.isfile(path):
            size = os.path.getsize(path)
        else:  # a directory layout or a remote path: no size to read
            size = 0
            # once per path: the decision is cached per (path, parallelism)
            warnings.warn(
                f"t(spread=True): {path} is not a single local file; "
                "its scan is not spread"
            )
        mpb = _conf_bytes(spark.conf.get("spark.sql.files.maxPartitionBytes", "128MB"))
        n = par if size >= _SPREAD_MIN_BYTES and -(-size // mpb) < par else 0
        _SPREAD_CACHE[key] = n
    if not n:
        return df
    keys = _TABLE_KEYS.get(name)
    return df.repartition(n, *keys) if keys else df.repartition(n)


DEC = "decimal(18,4)"


# ---------------------------------------------------------------------------
# Aggregations (SURVEY §2.5)
# ---------------------------------------------------------------------------

@register(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q01(spark, sf_dir):
    """TPC-H-Q1-shaped rollup — the success-rate aggregation pattern A1
    (eval_runner.py:678-714: groupby keys, sum measures, sort)."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast(DEC)).cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast(DEC)).cast("double").alias("sum_base_price"),
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC))
            .cast("double")
            .alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "q02_revenue_by_nation",
    """
    SELECT n.n_name AS nation,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    ORDER BY revenue DESC, nation
    """,
)
def q02(spark, sf_dir):
    """Multi-join rollup; nation is a broadcast dimension (J6 pattern,
    subtask_benchmark/utils/utils.py:31-37)."""
    li, o, c = t(spark, sf_dir, "lineitem"), t(spark, sf_dir, "orders"), t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.desc("revenue"), "nation")
    )


@register(
    "q03_success_rate_rollup",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q03(spark, sf_dir):
    """A1/A2: per-group success-rate style rollup over the event stream."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("event_type")
    )


@register(
    "q04_confusion_matrix",
    """
    SELECT CAST(SUM(CASE WHEN gt AND pred THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           CAST(SUM(CASE WHEN NOT gt AND pred THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           CAST(SUM(CASE WHEN gt AND NOT pred THEN 1 ELSE 0 END) AS BIGINT) AS fn,
           CAST(SUM(CASE WHEN NOT gt AND NOT pred THEN 1 ELSE 0 END) AS BIGINT) AS tn
    FROM (SELECT value >= 50.0 AS gt, event_id % 2 = 0 AS pred FROM events)
    """,
)
def q04(spark, sf_dir):
    """A3: confusion matrix in one conditional-sum pass
    (rewards/metrics_utils.py:5-49)."""
    ev = t(spark, sf_dir, "events").select(
        (F.col("value") >= 50.0).alias("gt"), (F.col("event_id") % 2 == 0).alias("pred")
    )
    def cnt(c):
        return F.sum(F.when(c, 1).otherwise(0)).cast("long")
    return ev.agg(
        cnt(F.col("gt") & F.col("pred")).alias("tp"),
        cnt(~F.col("gt") & F.col("pred")).alias("fp"),
        cnt(F.col("gt") & ~F.col("pred")).alias("fn"),
        cnt(~F.col("gt") & ~F.col("pred")).alias("tn"),
    )


@register(
    "q05_customer_order_stats",
    """
    SELECT o_custkey AS custkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_spent
    FROM orders GROUP BY o_custkey
    ORDER BY total_spent DESC, custkey LIMIT 20
    """,
)
def q05(spark, sf_dir):
    """A11-style per-entity accumulation + top-N (O4)."""
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("total_spent"),
        )
        .orderBy(F.desc("total_spent"), "custkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Joins / set ops / dedup (SURVEY §2.4, §2.8, §2.9)
# ---------------------------------------------------------------------------

@register(
    "q06_customers_without_orders",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_customers_no_orders
    FROM customer c WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q06(spark, sf_dir):
    """Anti join — the URL-seen skip (D1, parallel_computing_tasks.py:213-220)
    and skip-list filter (P4, eval_runner.py:135-140) shape."""
    c, o = t(spark, sf_dir, "customer"), t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n_customers_no_orders"))
    )


@register(
    "q07_customers_active_1995",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_active
    FROM customer c WHERE EXISTS (
      SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        AND o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND o.o_orderdate <  TIMESTAMP '1996-01-01 00:00:00')
    """,
)
def q07(spark, sf_dir):
    """Semi join — membership allowlist (P3, eval_runner.py:63-74)."""
    c, o = t(spark, sf_dir, "customer"), t(spark, sf_dir, "orders")
    o95 = o.filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    return c.join(o95, c.c_custkey == o95.o_custkey, "left_semi").agg(
        F.count(F.lit(1)).alias("n_active")
    )


@register(
    "q08_region_nation_dim",
    """
    SELECT r.r_name AS region, n.n_name AS nation,
           CAST(COUNT(s.s_suppkey) AS BIGINT) AS n_suppliers
    FROM nation n
    JOIN region r ON n.n_regionkey = r.r_regionkey
    LEFT JOIN supplier s ON s.s_nationkey = n.n_nationkey
    GROUP BY r.r_name, n.n_name ORDER BY region, nation
    """,
)
def q08(spark, sf_dir):
    """Broadcast dimension chain (J6) + left outer join (J2 fallback shape)."""
    n, r, s = t(spark, sf_dir, "nation"), t(spark, sf_dir, "region"), t(spark, sf_dir, "supplier")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .join(s, s.s_nationkey == n.n_nationkey, "left")
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.count("s_suppkey").alias("n_suppliers"))
        .orderBy("region", "nation")
    )


@register(
    "q09_dedup_exact_text",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT sha256(text)) AS BIGINT) AS n_distinct_texts
    FROM documents
    """,
)
def q09(spark, sf_dir):
    """Exact content dedup by digest (D2, warc-record.ts:104-125)."""
    d = t(spark, sf_dir, "documents")
    return d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.sha2("text", 256)).alias("n_distinct_texts"),
    )


# ---------------------------------------------------------------------------
# Windows / ordering (SURVEY §2.6, §2.7)
# ---------------------------------------------------------------------------

@register(
    "q10_lag_chain",
    """
    SELECT event_id, user_id,
           lag(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_event_id
    FROM events
    """,
)
def q10(spark, sf_dir):
    """W1: before/after chaining — each step's before_state = previous
    after_state (single_task_trajectory_collector.py:189-190) as lag()."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select("event_id", "user_id", F.lag("event_id").over(w).alias("prev_event_id"))


@register(
    "q11_trailing_history",
    """
    SELECT event_id, user_id,
           CAST(count(*) OVER w AS BIGINT) AS n_prev,
           round(CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE), 6) AS sum_prev
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
    """,
)
def q11(spark, sf_dir):
    """W3: trailing history window (last-k actions, sva_v4.py:69-75)."""
    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-3, -1)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_prev"),
        F.round(F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double"), 6).alias("sum_prev"),
    )


@register(
    "q12_cumulative_distribution",
    """
    WITH counts AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt FROM events GROUP BY event_type)
    SELECT event_type, cnt,
           CAST(SUM(cnt) OVER (ORDER BY cnt DESC, event_type ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_total
    FROM counts ORDER BY cnt DESC, event_type
    """,
)
def q12(spark, sf_dir):
    """A6/W9: frequency count + cumulative distribution
    (scripts/analyze_task_types.py:13-130)."""
    ev = t(spark, sf_dir, "events")
    counts = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))
    w = (
        Window.orderBy(F.desc("cnt"), "event_type")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return counts.select(
        "event_type", "cnt", F.sum("cnt").over(w).alias("running_total")
    ).orderBy(F.desc("cnt"), "event_type")


@register(
    "q13_top_order_per_customer",
    """
    SELECT custkey, o_orderkey AS orderkey, o_totalprice AS totalprice FROM (
      SELECT o_custkey AS custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders) WHERE rn = 1
    """,
)
def q13(spark, sf_dir):
    """W8: first-match-wins ranking (warc-record.ts:62-79 repair join)."""
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_totalprice").alias("totalprice"),
        )
    )


@register(
    "q14_batch_assignment",
    """
    SELECT batch, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(o_orderkey) AS BIGINT) AS first_key, CAST(MAX(o_orderkey) AS BIGINT) AS last_key
    FROM (
      SELECT o_orderkey,
             CAST(floor((row_number() OVER (ORDER BY o_orderkey) - 1) / 100) AS BIGINT) AS batch
      FROM orders)
    GROUP BY batch ORDER BY batch
    """,
)
def q14(spark, sf_dir):
    """A7/O5: contiguous batch slicing of a sorted universe
    (parallel_computing_controller.py:213-214; eval_runner.py:419-427)."""
    o = t(spark, sf_dir, "orders")
    w = Window.orderBy("o_orderkey")
    return (
        o.select(
            "o_orderkey",
            F.floor((F.row_number().over(w) - 1) / 100).cast("long").alias("batch"),
        )
        .groupBy("batch")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_orderkey").alias("first_key"),
            F.max("o_orderkey").alias("last_key"),
        )
        .orderBy("batch")
    )


# ---------------------------------------------------------------------------
# Projections / filters / string scalars (SURVEY §2.2, §2.3)
# ---------------------------------------------------------------------------

@register(
    "q15_prefix_filter",
    """
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM events
    WHERE event_type LIKE 'c%' OR event_type LIKE 's%'
    GROUP BY event_type ORDER BY event_type
    """,
)
def q15(spark, sf_dir):
    """P2: id-prefix filter (eval_runner.py:99-105)."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type").startswith("c") | F.col("event_type").startswith("s"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type")
    )


@register(
    "q16_null_normalize",
    """
    SELECT CASE WHEN upper(lang) IN ('NAN','NONE') THEN NULL ELSE lang END AS lang_norm,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM documents GROUP BY lang_norm ORDER BY lang_norm
    """,
)
def q16(spark, sf_dir):
    """P6: nan/none null-normalization (executor_eval.py:558-562)."""
    d = t(spark, sf_dir, "documents")
    lang_norm = F.when(
        F.upper("lang").isin("NAN", "NONE"), F.lit(None)
    ).otherwise(F.col("lang"))
    return (
        d.select(lang_norm.alias("lang_norm"))
        .groupBy("lang_norm")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang_norm")
    )


@register(
    "q17_sha_dedup_key",
    """
    SELECT doc_id, substr(sha256(text), 1, 20) AS dedup_key
    FROM documents ORDER BY doc_id LIMIT 100
    """,
)
def q17(spark, sf_dir):
    """C3: sha256 dedup key, 20-hex prefix
    (parallel_computing_tasks.py:209-211)."""
    d = t(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.substring(F.sha2("text", 256), 1, 20).alias("dedup_key"))
        .orderBy("doc_id")
        .limit(100)
    )


@register(
    "q18_token_explode_topn",
    """
    SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    WHERE token <> ''
    GROUP BY token ORDER BY cnt DESC, token LIMIT 25
    """,
)
def q18(spark, sf_dir):
    """A6: explode + frequency + top-N (analyze_task_types.py:13-130)."""
    d = t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "token")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Text-analysis pipeline ops (training-data suite)
# ---------------------------------------------------------------------------

@register(
    "q19_token_count",
    """
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS total_tokens,
           CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def q19(spark, sf_dir):
    """Token counting rollup (whitespace tokenizer) per language."""
    d = t(spark, sf_dir, "documents")
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(F.split("text", " ")).cast("long")).alias("total_tokens"),
            F.sum(F.col("n_chars").cast("long")).alias("total_chars"),
        )
        .orderBy("lang")
    )


@register(
    "q20_quality_score",
    """
    SELECT doc_id,
           round(CAST(len(string_split(text, ' ')) AS DOUBLE) / (CAST(n_chars AS DOUBLE) + 1.0), 6) AS tokens_per_char,
           CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS long_doc
    FROM documents ORDER BY doc_id LIMIT 200
    """,
)
def q20(spark, sf_dir):
    """Quality scoring: per-doc length/token-density features."""
    d = t(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id",
            F.round(
                F.size(F.split("text", " ")).cast("double")
                / (F.col("n_chars").cast("double") + 1.0),
                6,
            ).alias("tokens_per_char"),
            F.when(F.col("n_chars") >= 200, 1).otherwise(0).alias("long_doc"),
        )
        .orderBy("doc_id")
        .limit(200)
    )


@register(
    "q21_fingerprint",
    """
    SELECT fp, CAST(COUNT(*) AS BIGINT) AS n FROM (
      SELECT sha256(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp FROM documents)
    GROUP BY fp HAVING COUNT(*) > 1 ORDER BY n DESC, fp
    """,
)
def q21(spark, sf_dir):
    """Document fingerprinting: normalized-text digest, duplicate groups."""
    d = t(spark, sf_dir, "documents")
    fp = F.sha2(F.lower(F.regexp_replace("text", r"\s+", " ")), 256)
    return (
        d.select(fp.alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .orderBy(F.desc("n"), "fp")
    )


@register(
    "q22_minhash_signatures",
    """
    SELECT doc_id,
           MIN(sha256('s1:' || token)) AS mh1,
           MIN(sha256('s2:' || token)) AS mh2,
           MIN(sha256('s3:' || token)) AS mh3,
           MIN(sha256('s4:' || token)) AS mh4
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
    WHERE token <> ''
    GROUP BY doc_id ORDER BY doc_id LIMIT 100
    """,
)
def q22(spark, sf_dir):
    """MinHash signatures (k=4) over the token set — the shingle→minhash
    stage of MinHash-LSH dedup. Hash = sha256(seed || token), identical in
    both engines, so min-over-set is engine-invariant."""
    d = t(spark, sf_dir, "documents", spread=True)
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("token")).filter(
        F.col("token") != ""
    )
    aggs = [
        F.min(F.sha2(F.concat(F.lit(f"s{i}:"), F.col("token")), 256)).alias(f"mh{i}")
        for i in (1, 2, 3, 4)
    ]
    return toks.groupBy("doc_id").agg(*aggs).orderBy("doc_id").limit(100)
