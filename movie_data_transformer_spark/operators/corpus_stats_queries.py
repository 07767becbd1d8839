"""Corpus growth statistics: Heaps'-law vocabulary-growth curve — how
many NEW token types each slice of the corpus contributes. The curve a
tokenizer team reads before freezing a vocab (is type growth saturating,
or does more data keep buying coverage?), and a cheap corpus-health
monitor (a flattening curve can also mean the crawler started returning
duplicates).

`text_heaps_law_curve` (FULL oracle): documents ranked by doc_id into
10 deciles; per decile, cumulative docs, cumulative whitespace tokens,
and cumulative VOCABULARY (distinct token types seen so far). The
cumulative distinct is computed without re-scanning prefixes: each
token type is attributed to the decile of its FIRST occurrence (min
doc-rank per token), then a prefix-sum window over the 10-row decile
table turns first-occurrence counts into the running vocabulary size —
the "count distinct over growing prefixes" rewritten as one grouped
min + one tiny window.

Scale: one token explode -> min-agg keyed by token (the same shape as
building any vocabulary), one doc-grain agg, windows on 10 rows. No
prefix re-scans, no distinct-over-window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_data_transformer_spark.operators.ordered_stats import attach_order_stats
from movie_data_transformer_spark.operators.text import TOKENS_SPARK_SQL
from movie_data_transformer_spark.sources.tables import load_table


def q_text_heaps_law_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    # two-pass global rank (ordered_stats): the old un-partitioned
    # row_number shuffled every document — TEXT INCLUDED — through
    # Exchange SinglePartition; now the text rides one parallel bucket
    # exchange and the boundary/count passes prune to doc_id only
    docs = attach_order_stats(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        [F.col("doc_id").asc()],
        "doc_id",
        False,
        row_number="rd",
        total_count="n_docs",
        persist_input=False,
    ).selectExpr("doc_id", "text", "rd", "(rd - 1) * 10 div n_docs + 1 AS decile")
    toks = docs.selectExpr(
        "decile", f"explode({TOKENS_SPARK_SQL.format(x='text')}) AS tok"
    )
    first_seen = toks.groupBy("tok").agg(F.min("decile").alias("first_decile"))
    vocab_new = first_seen.groupBy(F.col("first_decile").alias("decile")).agg(
        F.count("*").alias("new_types")
    )
    per_decile = docs.selectExpr(
        "decile", f"size({TOKENS_SPARK_SQL.format(x='text')}) AS n_toks"
    ).groupBy("decile").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("n_tokens"),
    )
    return (
        per_decile.join(vocab_new, "decile", "left")
        .selectExpr(
            "decile",
            "sum(n_docs) OVER (ORDER BY decile"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS docs_cum",
            "sum(n_tokens) OVER (ORDER BY decile"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tokens_cum",
            "sum(coalesce(new_types, 0)) OVER (ORDER BY decile"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vocab_cum",
        )
        .selectExpr(
            "decile",
            "CAST(docs_cum AS BIGINT) AS docs_cum",
            "CAST(tokens_cum AS BIGINT) AS tokens_cum",
            "CAST(vocab_cum AS BIGINT) AS vocab_cum",
        )
    )


SQL_TEXT_HEAPS_LAW_CURVE = r"""
WITH ranked AS (
    SELECT doc_id, text,
           (row_number() OVER (ORDER BY doc_id) - 1) * 10
               // (count(*) OVER ()) + 1 AS decile
    FROM documents
),
toks AS (
    SELECT decile, unnest(string_split_regex(trim(text), '\s+')) AS tok
    FROM ranked
),
first_seen AS (
    SELECT tok, min(decile) AS first_decile FROM toks GROUP BY tok
),
vocab_new AS (
    SELECT first_decile AS decile, count(*) AS new_types
    FROM first_seen GROUP BY first_decile
),
per_decile AS (
    SELECT decile, count(*) AS n_docs,
           sum(len(string_split_regex(trim(text), '\s+'))) AS n_tokens
    FROM ranked GROUP BY decile
)
SELECT decile,
       CAST(sum(n_docs) OVER (ORDER BY decile
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS docs_cum,
       CAST(sum(n_tokens) OVER (ORDER BY decile
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS tokens_cum,
       CAST(sum(coalesce(new_types, 0)) OVER (ORDER BY decile
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS vocab_cum
FROM per_decile LEFT JOIN vocab_new USING (decile)
"""


QUERIES = {
    "text_heaps_law_curve": (q_text_heaps_law_curve, SQL_TEXT_HEAPS_LAW_CURVE),
}
