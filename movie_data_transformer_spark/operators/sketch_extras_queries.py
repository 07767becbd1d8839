"""KMV (k-minimum-values / bottom-k) distinct-count sketch — the fifth
mergeable sketch family (after HLL, CMS, Theta, KLL, bitmap): keep the k
smallest hash values of a set; the k-th minimum estimates cardinality as
(k-1) * H / kth_min over hash space H. Unlike HLL, the bottom-k set
doubles as a uniform SAMPLE of the distinct values — which is why
production pipelines often carry KMV even when HLL is cheaper.

Every quantity here is deterministic integer arithmetic on the portable
md5-derived 32-bit hash, so BOTH entries carry FULL oracles (the
deterministic-sketch discipline of agg_bitmap_distinct):

- `agg_kmv_bottomk`: per event_type, the exact distinct user count, the
  KMV estimate (k=8; exact when |S| < k, the standard small-set rule),
  and the relative error in micro units — the accuracy evidence rides
  in the row itself.
- `agg_kmv_merge_equivalence`: the MERGEABILITY property as an oracle-
  checked identity: sketches built on the two event_id-parity halves,
  merged (union of bottom-k sets -> re-rank -> bottom-k), equal the
  sketch built directly on the whole — per type, both kth-minima and
  the equality flag are emitted, so a broken merge is a red driver row,
  not a silent approximation drift.

Scale: bottom-k per group is one hash-distinct + one rank window
bounded by k per group (WindowGroupLimit pushes rank<=k map-side);
merging unions k-row sets — state is O(k) per group forever, the
property that lets 1000 executors sketch independently and combine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from movie_data_transformer_spark.operators.text import PORTABLE_HASH_SPARK_SQL
from movie_data_transformer_spark.sources.tables import load_table

K = 8
_H = 4294967296  # 2^32 hash space

_HASH = PORTABLE_HASH_SPARK_SQL.format(x="CAST(user_id AS STRING)")
_HASH_SQL = "CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)"


def _bottomk(spark: SparkSession, sf_dir: str, parity: int | None) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    if parity is not None:
        ev = ev.filter(f"event_id % 2 = {parity}")
    return (
        ev.selectExpr("event_type", f"{_HASH} AS h")
        .distinct()
        .selectExpr(
            "event_type",
            "h",
            "row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk",
        )
        .filter(f"rk <= {K}")
    )


def q_agg_kmv_bottomk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    exact = (
        ev.selectExpr("event_type", "user_id")
        .distinct()
        .groupBy("event_type")
        .count()
        .selectExpr("event_type", "CAST(count AS BIGINT) AS n_exact")
    )
    kth = (
        _bottomk(spark, sf_dir, None)
        .filter(f"rk = {K}")
        .selectExpr("event_type", "h AS kth_min")
    )
    return (
        exact.join(kth, "event_type", "left")
        .selectExpr(
            "event_type",
            "n_exact",
            f"CAST(coalesce(({K} - 1) * {_H} div kth_min, n_exact) AS BIGINT)"
            " AS kmv_estimate",
        )
        .selectExpr(
            "event_type",
            "n_exact",
            "kmv_estimate",
            "CAST(abs(kmv_estimate - n_exact) * 1000000 div n_exact AS BIGINT)"
            " AS rel_err_micro",
        )
    )


SQL_AGG_KMV_BOTTOMK = f"""
WITH hashes AS (
    SELECT DISTINCT event_type, {_HASH_SQL} AS h FROM events
),
exact AS (
    SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
    FROM events GROUP BY event_type
),
kth AS (
    SELECT event_type, h AS kth_min
    FROM (SELECT event_type, h,
                 row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
          FROM hashes)
    WHERE rk = {K}
),
est AS (
    SELECT e.event_type, e.n_exact,
           CAST(coalesce(({K} - 1) * {_H} // kth_min, e.n_exact) AS BIGINT)
               AS kmv_estimate
    FROM exact e LEFT JOIN kth USING (event_type)
)
SELECT event_type, n_exact, kmv_estimate,
       CAST(abs(kmv_estimate - n_exact) * 1000000 // n_exact AS BIGINT)
           AS rel_err_micro
FROM est
"""


def q_agg_kmv_merge_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    direct = (
        _bottomk(spark, sf_dir, None)
        .filter(f"rk = {K}")
        .selectExpr("event_type", "h AS kth_direct")
    )
    merged_sets = _bottomk(spark, sf_dir, 0).unionAll(_bottomk(spark, sf_dir, 1))
    merged = (
        merged_sets.select("event_type", "h")
        .distinct()
        .selectExpr(
            "event_type",
            "h",
            "row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk",
        )
        .filter(f"rk = {K}")
        .selectExpr("event_type", "h AS kth_merged")
    )
    return direct.join(merged, "event_type").selectExpr(
        "event_type",
        "kth_direct",
        "kth_merged",
        "CAST(kth_direct = kth_merged AS BOOLEAN) AS merge_lossless",
    )


SQL_AGG_KMV_MERGE_EQUIVALENCE = f"""
WITH hashes AS (
    SELECT DISTINCT event_type, {_HASH_SQL} AS h FROM events
),
kth AS (
    SELECT event_type, h AS kth_direct
    FROM (SELECT event_type, h,
                 row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
          FROM hashes)
    WHERE rk = {K}
)
SELECT event_type, kth_direct, kth_direct AS kth_merged,
       CAST(1 AS BOOLEAN) AS merge_lossless
FROM kth
"""


QUERIES = {
    "agg_kmv_bottomk": (q_agg_kmv_bottomk, SQL_AGG_KMV_BOTTOMK),
    "agg_kmv_merge_equivalence": (
        q_agg_kmv_merge_equivalence,
        SQL_AGG_KMV_MERGE_EQUIVALENCE,
    ),
}
