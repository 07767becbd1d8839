"""Corpus frequency-law statistics per language: hapax legomena and a
Zipf exponent estimate — the lexical-diversity companions of
text_heaps_law_curve (vocabulary growth) already shipped. Corpus-QA
reports use the hapax ratio as a noise/OCR-error indicator and the Zipf
slope as a naturalness check (natural language ~1.0; boilerplate or
templated corpora skew flat).

Entries (both FULL DuckDB oracles):
- `text_hapax_stats`: per lang — n_tokens, vocab_size, n_hapax (types
  occurring exactly once), hapax_ratio_micro (hapax/vocab) and
  ttr_micro (vocab/tokens), exact truncating micro units.
- `text_zipf_fit`: per lang — f1/f5/f10 (the 1st/5th/10th most frequent
  type's count; count DESC, token ASC total order) and
  zipf_s_micro = floor(log10(f1/f10) * 1e6): ranks 1 -> 10 span one
  decade, so under f_r ~ C/r^s the decade drop IS the exponent. The
  single transcendental is one log10 call on an identical integer ratio
  in both engines, floored to the micro grid (the dsir_queries libm
  note applies: a flip needs ln within ~2^-46 of a grid line).

Scale: tokenize -> groupBy(lang, token) -> per-lang aggregate; the
frequency table shuffle is the corpus vocabulary (bounded, Heaps-law
sublinear), the rank window partitions by lang over counts already
reduced to one row per type. Map-side combine does the heavy lifting;
no joins. At 100 TB the (lang, token) agg is the same shape as
vocab_build / text_tfidf_topk — scan-bound.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from movie_data_transformer_spark.operators.text import TOKENS_SPARK_SQL
from movie_data_transformer_spark.sources.tables import load_table


def _type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.selectExpr(
            "lang",
            f"explode({TOKENS_SPARK_SQL.format(x='lower(text)')}) AS tok",
        )
        .groupBy("lang", "tok")
        .agg(F.count("*").cast("bigint").alias("n"))
    )


_TYPE_COUNTS_CTE = r"""
toks AS (
    SELECT lang, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
    FROM documents
),
type_counts AS (
    SELECT lang, tok, CAST(count(*) AS BIGINT) AS n
    FROM toks GROUP BY lang, tok
)"""


def q_text_hapax_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    tc = _type_counts(spark, sf_dir)
    return (
        tc.groupBy("lang")
        .agg(
            F.sum("n").cast("bigint").alias("n_tokens"),
            F.count("*").cast("bigint").alias("vocab_size"),
            F.sum(F.expr("IF(n = 1, 1, 0)")).cast("bigint").alias("n_hapax"),
        )
        .selectExpr(
            "lang",
            "n_tokens",
            "vocab_size",
            "n_hapax",
            "CAST(n_hapax * 1000000 DIV vocab_size AS BIGINT)"
            " AS hapax_ratio_micro",
            "CAST(vocab_size * 1000000 DIV n_tokens AS BIGINT) AS ttr_micro",
        )
    )


SQL_TEXT_HAPAX_STATS = f"""
WITH {_TYPE_COUNTS_CTE}
SELECT lang,
       CAST(sum(n) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS vocab_size,
       CAST(count(*) FILTER (n = 1) AS BIGINT) AS n_hapax,
       CAST(count(*) FILTER (n = 1) * 1000000 // count(*) AS BIGINT)
           AS hapax_ratio_micro,
       CAST(count(*) * 1000000 // sum(n) AS BIGINT) AS ttr_micro
FROM type_counts
GROUP BY lang
"""


def q_text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    tc = _type_counts(spark, sf_dir)
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("tok"))
    ranked = tc.withColumn("r", F.row_number().over(w)).filter("r <= 10")
    return (
        ranked.groupBy("lang")
        .agg(
            F.expr("max(IF(r = 1, n, NULL))").alias("f1"),
            F.expr("max(IF(r = 5, n, NULL))").alias("f5"),
            F.expr("max(IF(r = 10, n, NULL))").alias("f10"),
        )
        .selectExpr(
            "lang",
            "f1",
            "f5",
            "f10",
            "CASE WHEN f10 IS NULL OR f1 IS NULL THEN NULL ELSE"
            " CAST(floor(log10(CAST(f1 AS DOUBLE) / f10) * 1000000)"
            " AS BIGINT) END AS zipf_s_micro",
        )
    )


SQL_TEXT_ZIPF_FIT = f"""
WITH {_TYPE_COUNTS_CTE},
ranked AS (
    SELECT lang, n,
           row_number() OVER (PARTITION BY lang ORDER BY n DESC, tok) AS r
    FROM type_counts
)
SELECT lang,
       max(CASE WHEN r = 1 THEN n END) AS f1,
       max(CASE WHEN r = 5 THEN n END) AS f5,
       max(CASE WHEN r = 10 THEN n END) AS f10,
       CASE WHEN max(CASE WHEN r = 10 THEN n END) IS NULL
                 OR max(CASE WHEN r = 1 THEN n END) IS NULL THEN NULL
            ELSE CAST(floor(log10(CAST(max(CASE WHEN r = 1 THEN n END)
                 AS DOUBLE) / max(CASE WHEN r = 10 THEN n END)) * 1000000)
                 AS BIGINT)
       END AS zipf_s_micro
FROM ranked
WHERE r <= 10
GROUP BY lang
"""


QUERIES = {
    "text_hapax_stats": (q_text_hapax_stats, SQL_TEXT_HAPAX_STATS),
    "text_zipf_fit": (q_text_zipf_fit, SQL_TEXT_ZIPF_FIT),
}
