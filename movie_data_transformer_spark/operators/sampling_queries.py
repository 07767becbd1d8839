"""Deterministic sampling & dataset splitting — the subset/holdout ops a
training-data pipeline runs constantly (down-sample a source, carve a
group-leakage-free eval split, audit the result). The reference engine
has no sampling surface; these are the Spark-first designs, all with
FULL DuckDB oracles because every "random" choice is a hash of the key
(portable md5 — engine- and partitioning-independent, reproducible
across reruns and backfills, and stable under repartitioning, which
`df.sample()` is NOT: its Bernoulli draw is per-partition-seeded, so a
repartition silently changes the sample. Hash-sampling is what
production corpus pipelines use for exactly this reason).

- `sample_hash_threshold_report`: Bernoulli-by-hash 20% sample of
  documents, audited per lang (totals, kept counts, kept-id checksum).
  The 100 TB path: the keep-decision is a pure map-side predicate — no
  shuffle, no state, pushdown-friendly; only the audit agg shuffles
  (one row per lang).
- `sample_stratified_exact_quota`: EXACT ceil(20%) per-lang quota via
  the order statistic of the hash (rank by (md5, id) within stratum).
  Exact quotas need a per-stratum rank — one shuffle on lang; at 100 TB
  strata are typically few and fat, so the window partitions by lang
  stay parallel via Spark's range-partitioned window, and when a single
  stratum outgrows a reducer the threshold form above (approximate
  fraction) is the documented fallback.
- `split_group_holdout`: group-aware train/holdout split of `orders` by
  CUSTOMER hash (all of a customer's orders land on the same side — the
  leakage rule for behavioral models), with the leakage audit (count of
  customers seen on both sides, structurally 0) carried in the output
  row so the oracle binds the guarantee, not just the sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_data_transformer_spark.operators.text import PORTABLE_HASH_SPARK_SQL
from movie_data_transformer_spark.sources.tables import load_table

#: md5-derived bucket in [0, 1e6) — Spark side. The first 8 hex chars fit
#: in 32 bits, so the BIGINT conv is exact; both operands non-negative so
#: % agrees across engines.
_DOC_BUCKET = PORTABLE_HASH_SPARK_SQL.format(x="CAST(doc_id AS STRING)") + " % 1000000"
#: DuckDB twin.
_DOC_BUCKET_SQL = (
    "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 1000000"
)

_CUST_BUCKET = PORTABLE_HASH_SPARK_SQL.format(x="CAST(o_custkey AS STRING)") + " % 10"
_CUST_BUCKET_SQL = (
    "CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 8) AS BIGINT) % 10"
)


def q_sample_hash_threshold_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.selectExpr(
            "lang", "doc_id", f"CASE WHEN {_DOC_BUCKET} < 200000 THEN 1 ELSE 0 END AS kept"
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_total"),
            F.sum("kept").cast("long").alias("n_kept"),
            F.sum(F.expr("kept * doc_id")).cast("long").alias("kept_doc_id_sum"),
        )
    )


SQL_SAMPLE_HASH_THRESHOLD_REPORT = f"""
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(kept) AS BIGINT) AS n_kept,
       CAST(sum(kept * doc_id) AS BIGINT) AS kept_doc_id_sum
FROM (
    SELECT lang, doc_id,
           CASE WHEN {_DOC_BUCKET_SQL} < 200000 THEN 1 ELSE 0 END AS kept
    FROM documents
)
GROUP BY lang
"""


def q_sample_stratified_exact_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ranked = docs.selectExpr(
        "doc_id",
        "lang",
        "row_number() OVER (PARTITION BY lang "
        "ORDER BY md5(CAST(doc_id AS STRING)), doc_id) AS samp_rank",
        "count(*) OVER (PARTITION BY lang) AS n_lang",
    )
    # exact ceil(n/5) quota per stratum
    return ranked.filter(F.expr("samp_rank <= (n_lang + 4) div 5")).select(
        "doc_id", "lang", "samp_rank"
    )


SQL_SAMPLE_STRATIFIED_EXACT_QUOTA = """
SELECT doc_id, lang, samp_rank
FROM (
    SELECT doc_id, lang,
           row_number() OVER (PARTITION BY lang
                              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS samp_rank,
           count(*) OVER (PARTITION BY lang) AS n_lang
    FROM documents
)
WHERE samp_rank <= (n_lang + 4) // 5
"""


def q_split_group_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    tagged = orders.selectExpr(
        "o_orderkey",
        "o_custkey",
        f"CASE WHEN {_CUST_BUCKET} < 2 THEN 'holdout' ELSE 'train' END AS split",
    )
    per_split = tagged.groupBy("split").agg(
        F.count("*").alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.sum("o_orderkey").cast("long").alias("orderkey_sum"),
    )
    # leakage audit: customers appearing on both sides (structurally 0 —
    # the split key IS the group key). 1-row broadcast scalar join, the
    # gate_queries pattern.
    leak = (
        tagged.groupBy("o_custkey")
        .agg(F.countDistinct("split").alias("_ns"))
        .selectExpr("CAST(count_if(_ns > 1) AS BIGINT) AS leak_customers")
    )
    return per_split.crossJoin(F.broadcast(leak)).select(
        "split", "n_orders", "n_customers", "orderkey_sum", "leak_customers"
    )


SQL_SPLIT_GROUP_HOLDOUT = f"""
WITH tagged AS (
    SELECT o_orderkey, o_custkey,
           CASE WHEN {_CUST_BUCKET_SQL} < 2 THEN 'holdout' ELSE 'train' END
               AS split
    FROM orders
),
per_split AS (
    SELECT split,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(sum(o_orderkey) AS BIGINT) AS orderkey_sum
    FROM tagged GROUP BY split
),
leak AS (
    SELECT CAST(count(*) FILTER (_ns > 1) AS BIGINT) AS leak_customers
    FROM (SELECT o_custkey, count(DISTINCT split) AS _ns
          FROM tagged GROUP BY o_custkey)
)
SELECT split, n_orders, n_customers, orderkey_sum, leak_customers
FROM per_split, leak
"""


def q_sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic WEIGHTED sample: top-200 documents by the rational
    priority weight * 2^32 div (hash + 1) — the Efraimidis-Spirakis
    "largest keys win" scheme with the float exponential key replaced by
    an exact rational (heavier docs beat lighter ones at equal hash, and
    the hash spreads ties uniformly). Weight = n_chars, i.e. a
    length-weighted corpus subsample (longer docs proportionally more
    likely — what token-budget-weighted subsampling wants).

    Scale: top-k by priority is per-partition top-k then a k-row global
    merge (Spark's TakeOrdered shape); no full sort materializes. The
    rank window here is the oracle-comparable form; priorities are
    partition-independent (pure hash arithmetic), so the sample is
    stable under repartitioning like every sampler in this module."""
    docs = load_table(spark, sf_dir, "documents")
    pri = docs.selectExpr(
        "doc_id",
        "lang",
        f"CAST(n_chars * 4294967296 div (({_DOC_BUCKET}) + 1) AS BIGINT)"
        " AS priority",
    )
    # top-k via orderBy+limit (parallel TakeOrdered) instead of a global
    # row_number window; rank re-derived over the 200 survivors
    return (
        pri.orderBy(F.col("priority").desc(), F.col("doc_id").asc())
        .limit(200)
        .selectExpr(
            "doc_id",
            "lang",
            "priority",
            "row_number() OVER (ORDER BY priority DESC, doc_id) AS pri_rank",
        )
    )


SQL_SAMPLE_WEIGHTED_PRIORITY = f"""
SELECT doc_id, lang, priority, pri_rank
FROM (
    SELECT doc_id, lang, priority,
           row_number() OVER (ORDER BY priority DESC, doc_id) AS pri_rank
    FROM (
        SELECT doc_id, lang,
               CAST(n_chars * 4294967296 // (({_DOC_BUCKET_SQL}) + 1) AS BIGINT)
                   AS priority
        FROM documents
    )
)
WHERE pri_rank <= 200
"""


QUERIES = {
    "sample_hash_threshold_report": (
        q_sample_hash_threshold_report,
        SQL_SAMPLE_HASH_THRESHOLD_REPORT,
    ),
    "sample_weighted_priority": (
        q_sample_weighted_priority,
        SQL_SAMPLE_WEIGHTED_PRIORITY,
    ),
    "sample_stratified_exact_quota": (
        q_sample_stratified_exact_quota,
        SQL_SAMPLE_STRATIFIED_EXACT_QUOTA,
    ),
    "split_group_holdout": (q_split_group_holdout, SQL_SPLIT_GROUP_HOLDOUT),
}
