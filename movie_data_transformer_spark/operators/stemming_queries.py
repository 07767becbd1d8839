"""Suffix-stripping stemming and its vocabulary impact — the classic
S-stemmer (Harman 1991, "How effective is suffixing?"): three ordered
rules (-ies -> -y unless -eies/-aies; -es -> -e unless -aes/-ees/-oes;
-s dropped unless -us/-ss), applied ONCE per token, the lightest
published stemmer and the one whose behavior is fully expressible as a
deterministic expression chain — so both engines run the IDENTICAL
rules and the entry is a FULL oracle (a Porter stemmer's loop structure
would force a UDF; the S-stemmer is the honest codegen-friendly tier).

Why a pipeline wants it: index/vocab compression for search
(search_bm25_topk) and fuzzy matching — the entry reports exactly how
much vocabulary the stemmer folds per language, which is the
go/no-go number for enabling it upstream.

Entry `text_sstem_vocab_reduction` (FULL DuckDB oracle): per lang —
vocab_before, vocab_after (distinct stems), folded (before - after),
reduction_micro. English should fold the most (plural-s morphology),
pinned in pytest.

Scale: map-side CASE chain inside the tokenize pass + two vocab-grain
distinct aggs (Heaps-bounded); no joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_data_transformer_spark.operators.text import TOKENS_SPARK_SQL
from movie_data_transformer_spark.sources.tables import load_table


def _sstem(col: str, ew: str = "endswith") -> str:
    """The 3-rule S-stemmer as one CASE expression. The ONLY engine
    difference is the suffix-test function name (Spark: `endswith`,
    DuckDB: `ends_with`); substr/length/|| are shared text."""
    return f"""CASE
  WHEN length({col}) > 4 AND {ew}({col}, 'ies')
       AND NOT {ew}({col}, 'eies') AND NOT {ew}({col}, 'aies')
    THEN substr({col}, 1, length({col}) - 3) || 'y'
  WHEN length({col}) > 3 AND {ew}({col}, 'es')
       AND NOT {ew}({col}, 'aes') AND NOT {ew}({col}, 'ees')
       AND NOT {ew}({col}, 'oes')
    THEN substr({col}, 1, length({col}) - 1)
  WHEN length({col}) > 2 AND {ew}({col}, 's')
       AND NOT {ew}({col}, 'us') AND NOT {ew}({col}, 'ss')
    THEN substr({col}, 1, length({col}) - 1)
  ELSE {col} END"""


def q_text_sstem_vocab_reduction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.selectExpr(
        "lang", f"explode({TOKENS_SPARK_SQL.format(x='lower(text)')}) AS tok"
    ).selectExpr("lang", "tok", f"{_sstem('tok')} AS stem")
    return (
        toks.groupBy("lang")
        .agg(
            F.countDistinct("tok").cast("bigint").alias("vocab_before"),
            F.countDistinct("stem").cast("bigint").alias("vocab_after"),
        )
        .selectExpr(
            "lang",
            "vocab_before",
            "vocab_after",
            "vocab_before - vocab_after AS folded",
            "CAST((vocab_before - vocab_after) * 1000000 DIV vocab_before"
            " AS BIGINT) AS reduction_micro",
        )
    )


SQL_TEXT_SSTEM_VOCAB_REDUCTION = f"""
WITH toks AS (
    SELECT lang, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
    FROM documents
),
stemmed AS (
    SELECT lang, tok, {_sstem('tok', 'ends_with')} AS stem FROM toks
)
SELECT lang,
       CAST(count(DISTINCT tok) AS BIGINT) AS vocab_before,
       CAST(count(DISTINCT stem) AS BIGINT) AS vocab_after,
       CAST(count(DISTINCT tok) - count(DISTINCT stem) AS BIGINT) AS folded,
       CAST((count(DISTINCT tok) - count(DISTINCT stem)) * 1000000
            // count(DISTINCT tok) AS BIGINT) AS reduction_micro
FROM stemmed
GROUP BY lang
"""


QUERIES = {
    "text_sstem_vocab_reduction": (
        q_text_sstem_vocab_reduction,
        SQL_TEXT_SSTEM_VOCAB_REDUCTION,
    ),
}
