"""Readability scoring over `documents` — the classic Flesch formulas
(Flesch 1948 Reading Ease; Kincaid et al. 1975 grade level) with a
deterministic syllable heuristic, all in exact bigint micro units.
Quality-filter pipelines (C4/Gopher-style, already shipped as
text_c4_line_filters / quality_classifier_scores) routinely add a
readability band to the curation report; this module is that band.

Counts per document (identical expressions in both engines):
  W = whitespace tokens of trim(text)       (words)
  S = greatest(1, non-empty [.!?]+ splits)  (sentences)
  Y = sum over tokens of greatest(1, number of [aeiouy]+ runs in
      lower(token))                         (syllable heuristic)

Scores — rational coefficients in micro units, truncating integer
division (Spark DIV == DuckDB //):
  FRE_micro  = 206835000 - (1015000*W) DIV S - (84600000*Y) DIV W
  FKGL_micro = (390000*W) DIV S + (11800000*Y) DIV W - 15590000

Entries (both FULL DuckDB oracles):
- `text_readability_scores`: per doc — n_words, n_sentences,
  n_syllables, fre_micro, fkgl_micro.
- `text_readability_band_counts`: per (lang, band) — band is the
  standard FRE banding (very_easy >= 90, easy >= 70, medium >= 50,
  hard >= 30, else very_hard), counts + mean FKGL in micro (sum DIV n).

Scale: pure map-side expression work over one documents scan (no joins,
no windows); the band report is a single groupBy on a 10-key domain —
the agg is map-side-combinable, so at 100 TB this is scan-bound with a
trivial shuffle. Whole-stage-codegen JVM expressions only; no Python.

Reference parity: the reference has no text surface (512-LoC movie ETL);
this extends SURVEY.md's text-analysis mandate alongside text_stats /
text_lang_id / quality_classifier_scores.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from movie_data_transformer_spark.operators.text import TOKENS_SPARK_SQL
from movie_data_transformer_spark.sources.tables import load_table

#: fused count expressions — one tokenization pass
_COUNTS_SPARK = [
    f"CAST(size({TOKENS_SPARK_SQL.format(x='text')}) AS BIGINT) AS w",
    r"CAST(greatest(1, size(filter(split(text, '[.!?]+'),"
    r" s -> length(trim(s)) > 0))) AS BIGINT) AS s",
    f"CAST(aggregate({TOKENS_SPARK_SQL.format(x='lower(text)')}, 0L, (acc, x) ->"
    r" acc + greatest(1L, CAST(size(regexp_extract_all(x, '[aeiouy]+', 0))"
    r" AS BIGINT))) AS BIGINT) AS y",
]

_COUNTS_CTE = r"""
counts AS (
    SELECT doc_id, lang,
           CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS w,
           CAST(greatest(1, len(list_filter(
                string_split_regex(text, '[.!?]+'),
                s -> length(trim(s)) > 0))) AS BIGINT) AS s,
           CAST(list_sum(list_transform(
                string_split_regex(trim(lower(text)), '\s+'),
                x -> greatest(1, len(regexp_extract_all(x, '[aeiouy]+')))))
               AS BIGINT) AS y
    FROM documents
)"""

_FRE = "206835000 - (1015000 * w) {div} s - (84600000 * y) {div} w"
_FKGL = "(390000 * w) {div} s + (11800000 * y) {div} w - 15590000"


def _scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.selectExpr("doc_id", "lang", *_COUNTS_SPARK)
    return counts.selectExpr(
        "doc_id",
        "lang",
        "w AS n_words",
        "s AS n_sentences",
        "y AS n_syllables",
        f"CAST({_FRE.format(div='DIV')} AS BIGINT) AS fre_micro",
        f"CAST({_FKGL.format(div='DIV')} AS BIGINT) AS fkgl_micro",
    )


def q_text_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _scored(spark, sf_dir).drop("lang")


SQL_TEXT_READABILITY_SCORES = f"""
WITH {_COUNTS_CTE}
SELECT doc_id,
       w AS n_words,
       s AS n_sentences,
       y AS n_syllables,
       CAST({_FRE.format(div='//')} AS BIGINT) AS fre_micro,
       CAST({_FKGL.format(div='//')} AS BIGINT) AS fkgl_micro
FROM counts
"""

_BAND = """CASE WHEN fre_micro >= 90000000 THEN 'very_easy'
     WHEN fre_micro >= 70000000 THEN 'easy'
     WHEN fre_micro >= 50000000 THEN 'medium'
     WHEN fre_micro >= 30000000 THEN 'hard'
     ELSE 'very_hard' END"""


def q_text_readability_band_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    scored = _scored(spark, sf_dir)
    return (
        scored.selectExpr("lang", f"{_BAND} AS band", "fkgl_micro")
        .groupBy("lang", "band")
        .agg(
            {"*": "count", "fkgl_micro": "sum"},
        )
        .selectExpr(
            "lang",
            "band",
            "CAST(`count(1)` AS BIGINT) AS n_docs",
            "CAST(`sum(fkgl_micro)` DIV `count(1)` AS BIGINT)"
            " AS mean_fkgl_micro",
        )
    )


SQL_TEXT_READABILITY_BANDS = f"""
WITH {_COUNTS_CTE},
scored AS (
    SELECT lang,
           CAST({_FRE.format(div='//')} AS BIGINT) AS fre_micro,
           CAST({_FKGL.format(div='//')} AS BIGINT) AS fkgl_micro
    FROM counts
)
SELECT lang,
       {_BAND} AS band,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(fkgl_micro) // count(*) AS BIGINT) AS mean_fkgl_micro
FROM scored
GROUP BY lang, band
"""


QUERIES = {
    "text_readability_scores": (
        q_text_readability_scores,
        SQL_TEXT_READABILITY_SCORES,
    ),
    "text_readability_band_counts": (
        q_text_readability_band_counts,
        SQL_TEXT_READABILITY_BANDS,
    ),
}
