"""Isotonic (monotone) calibration of classifier scores — the PAV
regression every ML-eval stack ships next to Platt scaling (Zadrozny &
Elkan 2002; Best & Chakravarti 1990 for the algorithm): fit the best
monotone non-decreasing step function from score to empirical positive
rate. Spark has no isotonic SQL operator; the repo's form uses the
EXACT minimax characterization of the isotonic fit,

    f(i) = max_{j <= i} min_{k >= i} weightedAvg(rate, bins j..k)

which is pure joins + windows over the (tiny) bin table — no iterative
pooling, no UDF — so BOTH engines compute the identical answer and the
entry carries a FULL DuckDB oracle. (PAVA's pooled blocks are exactly
the argmax/argmin segments of this formula; on the micro-floored
averages the minimax IS the spec, deterministic cross-engine.)

Fixture: score = the hashed-linear classifier logit over `documents`
(the classifier_kappa fixture); label = the token-count rule gate
(n_tokens >= 30). Docs are bucketed into B = 20 equal-population bins
by the total order (logit, doc_id) — ntile over an exact order
statistic; per bin the empirical keep-rate in micro units; then the
isotonic fit per bin.

Entry `calibration_isotonic_fit` (FULL oracle): one row per bin —
  bin, n, n_pos, rate_micro, iso_rate_micro
with iso_rate_micro monotone non-decreasing in bin (pinned in
tests/test_r8_properties.py against a python recompute).

Scale: binning is one pass + one B-sized agg; the minimax runs on the
B-row bin table (B^2 pairs = 400 rows — driver-free but trivially
small), so the whole operator is scan-bound regardless of corpus size.
The global ntile is the exact-order-statistic semantics choice the repo
documents for RFM/pareto (SCALE.md): at extreme scale swap the bin
boundaries for KLL-sketch quantiles and keep the fit stage unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_data_transformer_spark.operators.text import HASHED_LOGIT_SPARK_SQL, TOKENS_SPARK_SQL
from movie_data_transformer_spark.sources.tables import load_table

N_BINS = 20

_TOKS = TOKENS_SPARK_SQL.format(x="text")
_LOGIT = HASHED_LOGIT_SPARK_SQL.format(t=_TOKS)


def isotonic_fit_bins(bins: DataFrame) -> DataFrame:
    """Input: (bin, n, n_pos). Output adds rate_micro + iso_rate_micro
    via the minimax formula over segment weighted averages."""
    # all (j, k) segment averages from prefix sums — B^2 rows
    pre = bins.selectExpr(
        "bin",
        "sum(n) OVER (ORDER BY bin) AS cn",
        "sum(n_pos) OVER (ORDER BY bin) AS cp",
    )
    j = pre.selectExpr("bin AS j", "cn - 0 AS _", "cn AS cnj", "cp AS cpj").drop("_")
    seg = (
        pre.selectExpr("bin AS k", "cn AS cnk", "cp AS cpk")
        .join(j, F.col("j") <= F.col("k"))
        .selectExpr(
            "j",
            "k",
            # sum over j..k = prefix(k) - prefix(j-1); reconstruct
            # prefix(j-1) as prefix(j) - bin j's own values via a join
            # back to bins — avoided by shifting: use LAG on the prefix
            "cnk",
            "cpk",
            "cnj",
            "cpj",
        )
    )
    # need bin j's own (n, n_pos) to roll prefix(j) back to prefix(j-1)
    seg = seg.join(
        bins.selectExpr("bin AS j", "n AS nj", "n_pos AS pj"), "j"
    ).selectExpr(
        "j",
        "k",
        "CAST((cpk - (cpj - pj)) * 1000000 div (cnk - (cnj - nj)) AS BIGINT)"
        " AS avg_micro",
    )
    # f(i) = max_{j<=i} min_{k>=i} avg(j,k)
    i_tbl = bins.select(F.col("bin").alias("i"))
    inner = (
        i_tbl.join(seg, (F.col("j") <= F.col("i")) & (F.col("k") >= F.col("i")))
        .groupBy("i", "j")
        .agg(F.min("avg_micro").alias("mn"))
        .groupBy("i")
        .agg(F.max("mn").alias("iso_rate_micro"))
    )
    return (
        bins.join(inner, bins.bin == inner.i)
        .selectExpr(
            "bin",
            "CAST(n AS BIGINT) AS n",
            "CAST(n_pos AS BIGINT) AS n_pos",
            "CAST(n_pos * 1000000 div n AS BIGINT) AS rate_micro",
            "iso_rate_micro",
        )
    )


def q_calibration_isotonic_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        f"{_LOGIT} AS logit",
        f"CAST(size({_TOKS}) >= 30 AS INT) AS pos",
    )
    binned = docs.selectExpr(
        "pos",
        f"ntile({N_BINS}) OVER (ORDER BY logit, doc_id) AS bin",
    )
    bins = binned.groupBy("bin").agg(
        F.count("*").alias("n"), F.sum("pos").alias("n_pos")
    )
    return isotonic_fit_bins(bins)


SQL_CALIBRATION_ISOTONIC_FIT = f"""
WITH scored AS (
    SELECT doc_id,
           CAST(list_sum(list_transform(
                string_split_regex(trim(text), '\\s+'), x ->
                (CAST('0x' || substr(md5(x), 1, 8) AS BIGINT) % 2001) - 1000))
               AS BIGINT) AS logit,
           CASE WHEN len(string_split_regex(trim(text), '\\s+')) >= 30
                THEN 1 ELSE 0 END AS pos
    FROM documents
),
binned AS (
    SELECT pos, ntile({N_BINS}) OVER (ORDER BY logit, doc_id) AS bin
    FROM scored
),
bins AS (
    SELECT bin, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(pos) AS BIGINT) AS n_pos
    FROM binned GROUP BY bin
),
pre AS (
    SELECT bin, n, n_pos,
           sum(n) OVER (ORDER BY bin) AS cn,
           sum(n_pos) OVER (ORDER BY bin) AS cp
    FROM bins
),
seg AS (
    SELECT j.bin AS j, k.bin AS k,
           CAST((k.cp - (j.cp - j.n_pos)) * 1000000
                // (k.cn - (j.cn - j.n)) AS BIGINT) AS avg_micro
    FROM pre j JOIN pre k ON j.bin <= k.bin
),
fit AS (
    SELECT i, max(mn) AS iso_rate_micro
    FROM (
        SELECT b.bin AS i, s.j, min(s.avg_micro) AS mn
        FROM bins b JOIN seg s ON s.j <= b.bin AND s.k >= b.bin
        GROUP BY b.bin, s.j
    )
    GROUP BY i
)
SELECT b.bin, b.n, b.n_pos,
       CAST(b.n_pos * 1000000 // b.n AS BIGINT) AS rate_micro,
       f.iso_rate_micro
FROM bins b JOIN fit f ON f.i = b.bin
"""


QUERIES = {
    "calibration_isotonic_fit": (
        q_calibration_isotonic_fit,
        SQL_CALIBRATION_ISOTONIC_FIT,
    ),
}
