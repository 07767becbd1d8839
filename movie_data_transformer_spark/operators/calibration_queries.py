"""Cross-source score calibration by quantile normalization — the step a
multi-source training corpus needs before a single quality threshold can
be applied: each source's classifier-score distribution is mapped onto
the GLOBAL distribution by relative rank, so "top 30% of source X" and
"top 30% of source Y" land on the same calibrated scale even when one
source's raw scores run systematically hot.

Math (all exact integers): within each source, rank r_s of a doc by
(score, doc_id) — a TOTAL order, so both engines agree; the calibrated
value is the global score at rank floor((r_s - 1) * N / n_s) + 1, i.e.
the global order statistic at the same relative position. FULL oracle.

Scale: the per-source window shuffles once on source; the GLOBAL ranking
rides the two-pass quantile-bucketed rank (operators/ordered_stats), so
it is a parallel per-bucket sort plus broadcast offsets — never a
single-reducer sort — and stays EXACT (bit-identical to the global
row_number), so the oracle contract is unchanged. The rank join keys
are integers, bucketable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from movie_data_transformer_spark.operators.ordered_stats import attach_order_stats
from movie_data_transformer_spark.operators.text import HASHED_LOGIT_SPARK_SQL, TOKENS_SPARK_SQL
from movie_data_transformer_spark.sources.tables import load_table

_SCORE_EXPR = HASHED_LOGIT_SPARK_SQL.format(t=TOKENS_SPARK_SQL.format(x="text"))


def q_score_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The scored table is the fork point for three consumers (per-source
    # ranking, the global two-pass rank, the global count) — persist so
    # the per-token md5 scoring runs once. The old form had TWO
    # un-partitioned windows over the doc grain (`count(*) OVER ()` and
    # the global row_number): both were Exchange SinglePartition at
    # 100 TB. The count is now a 1-row broadcast; the global rank is the
    # two-pass quantile-bucketed rank (ordered_stats) — bit-identical.
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.selectExpr(
        "doc_id", "source", f"{_SCORE_EXPR} AS score"
    ).persist()
    n_total = scored.agg(F.count("*").alias("n_total"))
    ranked = (
        scored.selectExpr(
            "doc_id",
            "source",
            "score",
            "row_number() OVER (PARTITION BY source ORDER BY score, doc_id) AS r_s",
            "count(*) OVER (PARTITION BY source) AS n_s",
        )
        .crossJoin(F.broadcast(n_total))
        .selectExpr(
            "doc_id",
            "source",
            "score",
            "CAST((r_s - 1) * n_total DIV n_s + 1 AS BIGINT) AS g_rank",
        )
    )
    glob = attach_order_stats(
        scored,
        [F.col("score").asc(), F.col("doc_id").asc()],
        "score",
        False,
        row_number="g_rank",
        persist_input=False,  # already persisted above
    ).select(F.col("score").alias("norm_score"), "g_rank")
    return ranked.join(glob, "g_rank").select(
        "doc_id", "source", "score", "norm_score"
    )


SQL_SCORE_QUANTILE_NORMALIZE = r"""
WITH scored AS (
    SELECT doc_id, source,
           CAST(list_sum(list_transform(string_split_regex(trim(text), '\s+'),
                x -> (CAST('0x' || substr(md5(x), 1, 8) AS BIGINT) % 2001) - 1000))
               AS BIGINT) AS score
    FROM documents
),
ranked AS (
    SELECT doc_id, source, score,
           CAST((row_number() OVER (PARTITION BY source ORDER BY score, doc_id)
                 - 1)
                * (count(*) OVER ())
                // (count(*) OVER (PARTITION BY source)) + 1 AS BIGINT) AS g_rank
    FROM scored
),
gtab AS (
    SELECT score AS norm_score,
           row_number() OVER (ORDER BY score, doc_id) AS g_rank
    FROM scored
)
SELECT r.doc_id, r.source, r.score, g.norm_score
FROM ranked r JOIN gtab g USING (g_rank)
"""


QUERIES = {
    "score_quantile_normalize": (
        q_score_quantile_normalize,
        SQL_SCORE_QUANTILE_NORMALIZE,
    ),
}
