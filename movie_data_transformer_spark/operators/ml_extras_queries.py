"""Round-6 ML-evaluation extension: Cohen's kappa between the two
quality gates the curation pipeline already ships — the RULE gate
(length / type-token ratio / stopword cuts, corpus_quality_filter) and
the hashed linear CLASSIFIER gate (quality_classifier_scores) —
answering the operational question "does the model gate actually agree
with the rules beyond chance?" before swapping one for the other.

kappa = (po - pe) / (1 - pe) over the 2x2 agreement table; with counts
a (both keep), b (rule only), c (clf only), d (both drop), n = a+b+c+d:

    kappa = (n*(a+d) - [(a+b)(a+c) + (c+d)(b+d)]) / (n^2 - [...])

— an exact rational of bigint count products (n <= ~1e7 at these SFs,
products < 1e14), emitted in micro-units with a single DIV. The
numerator CAN be negative; both engines' integer division truncates
toward zero on signed input (probed for classifier_calibration_bins),
so the value is bit-identical cross-engine and the entry carries a FULL
oracle.

Scale: two map-side scoring projections over the same documents scan,
one doc_id join, one 1-row aggregate — at 100 TB the cost is two scans
(or one, if fused the way corpus_pipeline_e2e fuses its signals).
Registered behind the committed r07/r08 windows (NOTES.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_data_transformer_spark.operators.text import (
    HASHED_LOGIT_SPARK_SQL,
    TOKENS_SPARK_SQL,
    quality_scores,
    text_stats,
)
from movie_data_transformer_spark.sources.tables import load_table


def q_classifier_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    stats = text_stats(docs).select("doc_id", "n_tokens", "ttr")
    qual = quality_scores(docs).select("doc_id", "stopword_ratio")
    clf = docs.selectExpr(
        "doc_id",
        HASHED_LOGIT_SPARK_SQL.format(t=TOKENS_SPARK_SQL.format(x="text"))
        + " AS logit_sum",
    )
    flags = (
        stats.join(qual, "doc_id")
        .join(clf, "doc_id")
        .select(
            (
                (F.col("n_tokens") >= 30)
                & (F.col("ttr") >= 0.2)
                & (F.col("stopword_ratio") >= 0.01)
            )
            .cast("int")
            .alias("rule"),
            (F.col("logit_sum") >= 0).cast("int").alias("clf"),
        )
    )
    cells = flags.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.expr("IF(rule = 1 AND clf = 1, 1, 0)")).cast("bigint").alias("a"),
        F.sum(F.expr("IF(rule = 1 AND clf = 0, 1, 0)")).cast("bigint").alias("b"),
        F.sum(F.expr("IF(rule = 0 AND clf = 1, 1, 0)")).cast("bigint").alias("c"),
        F.sum(F.expr("IF(rule = 0 AND clf = 0, 1, 0)")).cast("bigint").alias("d"),
    )
    return cells.selectExpr(
        "n_docs",
        "a + b AS n_rule_keep",
        "a + c AS n_clf_keep",
        "a + d AS n_agree",
        "CAST((n_docs * (a + d) - ((a + b) * (a + c) + (c + d) * (b + d)))"
        " * 1000000 DIV"
        " (n_docs * n_docs - ((a + b) * (a + c) + (c + d) * (b + d)))"
        " AS BIGINT) AS kappa_micro",
    )


SQL_CLASSIFIER_KAPPA = r"""
WITH toks AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS t,
           string_split_regex(lower(trim(text)), '\s+') AS tl
    FROM documents
),
s AS (
    SELECT doc_id,
           CAST(len(t) AS BIGINT) AS n_tokens,
           CAST(CAST(len(list_distinct(t)) AS BIGINT) * 1000000 // len(t) AS DOUBLE)
               / 1000000 AS ttr,
           CAST(CAST(len(list_filter(tl, w -> w IN
                ('the','a','an','and','or','of','to','in','is'))) AS BIGINT)
                * 1000000 // len(tl) AS DOUBLE) / 1000000 AS stopword_ratio,
           CAST(list_sum(list_transform(t, x ->
                (CAST('0x' || substr(md5(x), 1, 8) AS BIGINT) % 2001) - 1000))
               AS BIGINT) AS logit_sum
    FROM toks
),
flags AS (
    SELECT CASE WHEN n_tokens >= 30 AND ttr >= 0.2 AND stopword_ratio >= 0.01
                THEN 1 ELSE 0 END AS rule,
           CASE WHEN logit_sum >= 0 THEN 1 ELSE 0 END AS clf
    FROM s
),
cells AS (
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (rule = 1 AND clf = 1) AS BIGINT) AS a,
           CAST(count(*) FILTER (rule = 1 AND clf = 0) AS BIGINT) AS b,
           CAST(count(*) FILTER (rule = 0 AND clf = 1) AS BIGINT) AS c,
           CAST(count(*) FILTER (rule = 0 AND clf = 0) AS BIGINT) AS d
    FROM flags
)
SELECT n_docs,
       a + b AS n_rule_keep,
       a + c AS n_clf_keep,
       a + d AS n_agree,
       CAST((n_docs * (a + d) - ((a + b) * (a + c) + (c + d) * (b + d)))
            * 1000000 //
            (n_docs * n_docs - ((a + b) * (a + c) + (c + d) * (b + d)))
            AS BIGINT) AS kappa_micro
FROM cells
"""


QUERIES = {
    "classifier_kappa": (q_classifier_kappa, SQL_CLASSIFIER_KAPPA),
}
