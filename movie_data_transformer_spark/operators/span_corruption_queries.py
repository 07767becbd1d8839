"""T5-style span-corruption PLANNING (Raffel et al. 2020): given a
noise density, decide deterministically which token positions of each
document are masked, collapse consecutive masked positions into spans
(one sentinel token per span), and report the corruption geometry the
training job needs (how many sentinels, the input/target length split).
This is the metadata pass a seq2seq data pipeline runs BEFORE packing
(pack_sequences already shipped); the mask decisions are hash-planted
(md5 of doc_id # position), so both engines derive the identical plan
— the repo's planted-noise discipline, no RNG.

Mask rule: position p of doc d is masked iff
    md5(d || '#' || p) as int % 1000 < 150        (15% noise density)
Spans: maximal runs of consecutive masked positions — the classic
gaps-and-islands collapse (p - row_number over masked positions is
constant within a run).

Entry `spans_corruption_plan` (FULL DuckDB oracle): per doc — n_tokens,
n_masked, n_spans, mask_rate_micro, mean_span_len_micro, plus the T5
bookkeeping n_input_tokens = n_tokens - n_masked + n_spans (unmasked
plus one sentinel per span) and n_target_tokens = n_masked + n_spans
(masked plus the sentinel delimiters).

Scale: explode positions -> filter masked -> ONE window partitioned by
doc_id (ordered by position) for the island id -> two grouped aggs that
reuse the doc_id partitioning. No joins; per-doc group sizes are
document lengths. At 100 TB this is the same shape as text token
analytics — scan plus one doc-keyed shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from movie_data_transformer_spark.operators.text import PORTABLE_HASH_SPARK_SQL, TOKENS_SPARK_SQL
from movie_data_transformer_spark.sources.tables import load_table

NOISE_PERMILLE = 150

_MASK_SPARK = (
    PORTABLE_HASH_SPARK_SQL.format(x="concat(CAST(doc_id AS STRING), '#', CAST(p AS STRING))")
    + f" % 1000 < {NOISE_PERMILLE}"
)
_MASK_DUCK = (
    "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#' ||"
    " CAST(p AS VARCHAR)), 1, 8) AS BIGINT) % 1000"
    f" < {NOISE_PERMILLE}"
)


def q_spans_corruption_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.selectExpr(
        "doc_id",
        f"CAST(size({TOKENS_SPARK_SQL.format(x='text')}) AS BIGINT) AS n_tokens",
    )
    pos = toks.selectExpr(
        "doc_id",
        "n_tokens",
        "explode(sequence(1, CAST(n_tokens AS INT))) AS p",
    )
    masked = pos.filter(F.expr(_MASK_SPARK))
    w = Window.partitionBy("doc_id").orderBy("p")
    islands = masked.withColumn(
        "island", F.col("p") - F.row_number().over(w)
    )
    per_doc = islands.groupBy("doc_id", "n_tokens").agg(
        F.count("*").cast("bigint").alias("n_masked"),
        F.countDistinct("island").cast("bigint").alias("n_spans"),
    )
    # docs with zero masked positions still need a row
    all_docs = toks.join(per_doc, ["doc_id", "n_tokens"], "left").selectExpr(
        "doc_id",
        "n_tokens",
        "coalesce(n_masked, 0L) AS n_masked",
        "coalesce(n_spans, 0L) AS n_spans",
    )
    return all_docs.selectExpr(
        "doc_id",
        "n_tokens",
        "n_masked",
        "n_spans",
        "CAST(n_masked * 1000000 DIV n_tokens AS BIGINT) AS mask_rate_micro",
        "CASE WHEN n_spans = 0 THEN 0L ELSE"
        " CAST(n_masked * 1000000 DIV n_spans AS BIGINT)"
        " END AS mean_span_len_micro",
        "n_tokens - n_masked + n_spans AS n_input_tokens",
        "n_masked + n_spans AS n_target_tokens",
    )


SQL_SPANS_CORRUPTION_PLAN = f"""
WITH toks AS (
    SELECT doc_id,
           CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
               AS n_tokens
    FROM documents
),
pos AS (
    SELECT doc_id, n_tokens, unnest(range(1, CAST(n_tokens AS INT) + 1)) AS p
    FROM toks
),
masked AS (
    SELECT doc_id, n_tokens, p FROM pos WHERE {_MASK_DUCK}
),
islands AS (
    SELECT doc_id, n_tokens,
           p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS island
    FROM masked
),
per_doc AS (
    SELECT doc_id, n_tokens,
           CAST(count(*) AS BIGINT) AS n_masked,
           CAST(count(DISTINCT island) AS BIGINT) AS n_spans
    FROM islands GROUP BY doc_id, n_tokens
),
all_docs AS (
    SELECT t.doc_id, t.n_tokens,
           coalesce(p.n_masked, 0) AS n_masked,
           coalesce(p.n_spans, 0) AS n_spans
    FROM toks t LEFT JOIN per_doc p
      ON p.doc_id = t.doc_id AND p.n_tokens = t.n_tokens
)
SELECT doc_id, n_tokens, n_masked, n_spans,
       CAST(n_masked * 1000000 // n_tokens AS BIGINT) AS mask_rate_micro,
       CASE WHEN n_spans = 0 THEN CAST(0 AS BIGINT) ELSE
            CAST(n_masked * 1000000 // n_spans AS BIGINT)
       END AS mean_span_len_micro,
       n_tokens - n_masked + n_spans AS n_input_tokens,
       n_masked + n_spans AS n_target_tokens
FROM all_docs
"""


QUERIES = {
    "spans_corruption_plan": (
        q_spans_corruption_plan,
        SQL_SPANS_CORRUPTION_PLAN,
    ),
}
