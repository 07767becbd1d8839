"""Training-mix planning: apportion a fixed token budget across corpus
sources by quality weight — the "data mixing" step every LLM pretraining
run performs (cf. the weighted source-sampling tables in LLaMA/Pile-style
recipes) before `export_training_manifest` materializes shards.

`mix_token_budget_apportion` (FULL oracle): per source,
  - avail_tokens: whitespace-token supply (one scan);
  - weight: quality mass = number of docs passing the repo's standard
    length screen (n_chars in [200, 8000] — the corpus_quality_filter
    band), an exact integer;
  - alloc_tokens: largest-remainder apportionment of BUDGET=100k tokens
    proportional to weight. Exact integer Hamilton method: base quota
    floor(B*w/W), then +1 to the sources with the largest remainders
    (ties by source ASC) until the budget is spent — alloc sums to B
    EXACTLY (the property the pytest gate pins; same method as
    attribution_position_based's credit split);
  - epochs_micro: alloc*1e6 div avail — >1e6 means the source repeats
    (multi-epoch), the signal mix designers watch for.

Scale: one scan of documents -> per-source agg (n_sources rows, tiny);
the apportionment runs on the aggregate, so the whole plan is one
shuffle regardless of corpus size. The window functions over the
n_sources-row aggregate are trivially single-reducer (rows = sources,
not docs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_data_transformer_spark.operators.text import TOKENS_SPARK_SQL
from movie_data_transformer_spark.sources.tables import load_table

_BUDGET = 100_000

_TOKENS_EXPR = f"CAST(size({TOKENS_SPARK_SQL.format(x='text')}) AS BIGINT)"
_TOKENS_SQL = r"CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)"
_QUALITY_EXPR = "CASE WHEN n_chars BETWEEN 200 AND 8000 THEN 1 ELSE 0 END"


def q_mix_token_budget_apportion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per_source = (
        docs.selectExpr(
            "source", f"{_TOKENS_EXPR} AS toks", f"{_QUALITY_EXPR} AS q"
        )
        .groupBy("source")
        .agg(
            F.sum("toks").alias("avail_tokens"),
            F.sum("q").cast("long").alias("weight"),
        )
    )
    apportioned = per_source.selectExpr(
        "source",
        "avail_tokens",
        "weight",
        f"CAST({_BUDGET} * weight div (sum(weight) OVER ()) AS BIGINT) AS base",
        f"CAST({_BUDGET} * weight % (sum(weight) OVER ()) AS BIGINT) AS rem",
    ).selectExpr(
        "source",
        "avail_tokens",
        "weight",
        "base",
        "row_number() OVER (ORDER BY rem DESC, source ASC) AS rem_rank",
        f"CAST({_BUDGET} - sum(base) OVER () AS BIGINT) AS leftover",
    )
    return apportioned.selectExpr(
        "source",
        "avail_tokens",
        "weight",
        "base + CASE WHEN rem_rank <= leftover THEN 1 ELSE 0 END AS alloc_tokens",
    ).selectExpr(
        "source",
        "avail_tokens",
        "weight",
        "alloc_tokens",
        "CAST(alloc_tokens * 1000000 div nullif(avail_tokens, 0) AS BIGINT)"
        " AS epochs_micro",
    )


SQL_MIX_TOKEN_BUDGET_APPORTION = f"""
WITH per_source AS (
    SELECT source,
           CAST(sum({_TOKENS_SQL}) AS BIGINT) AS avail_tokens,
           CAST(sum({_QUALITY_EXPR}) AS BIGINT) AS weight
    FROM documents
    GROUP BY source
),
quotas AS (
    SELECT source, avail_tokens, weight,
           CAST({_BUDGET} * weight // (sum(weight) OVER ()) AS BIGINT) AS base,
           CAST({_BUDGET} * weight % (sum(weight) OVER ()) AS BIGINT) AS rem
    FROM per_source
),
ranked AS (
    SELECT source, avail_tokens, weight, base,
           row_number() OVER (ORDER BY rem DESC, source ASC) AS rem_rank,
           CAST({_BUDGET} - sum(base) OVER () AS BIGINT) AS leftover
    FROM quotas
)
SELECT source, avail_tokens, weight,
       alloc_tokens,
       CAST(alloc_tokens * 1000000 // nullif(avail_tokens, 0) AS BIGINT)
           AS epochs_micro
FROM (
    SELECT source, avail_tokens, weight,
           base + CASE WHEN rem_rank <= leftover THEN 1 ELSE 0 END
               AS alloc_tokens
    FROM ranked
)
"""


QUERIES = {
    "mix_token_budget_apportion": (
        q_mix_token_budget_apportion,
        SQL_MIX_TOKEN_BUDGET_APPORTION,
    ),
}
