"""Offline ranking-quality metrics — nDCG@k, MRR, MAP@k — the search-eval
counterpart of the retrieval operators already shipped (search_bm25_topk,
search_phrase_match, sim_*_topk, recsys_pipeline_e2e's hit@k/recall).
A training-data pipeline that ranks candidates (BM25, ANN, recommender)
needs the standard graded/binary relevance metrics to compare rankers;
these are the canonical three (Jarvelin & Kekalainen 2002 for DCG;
TREC MAP/MRR definitions).

Fixture: each `source` in `documents` is one "query"; the system ranking
orders that source's docs by n_chars DESC (doc_id ASC tiebreak — a total
order, the cross-engine-determinism rule from docs_length_deciles), and
graded relevance 0..3 is planted per (source, doc_id) from md5 — the same
planted-truth discipline as pii_detect_redact / dedup fixtures, so the
metrics exercise real agreement/disagreement rather than a degenerate
all-relevant list.

Exactness: DCG's 1/log2(i+1) discounts are IRRATIONAL, so instead of
calling log2 in two engines we plant the SAME micro-unit literal table
(round(1e6/log2(i+1)), i=1..10) on both sides — every metric is then
pure bigint arithmetic (gains 2^rel-1 in {0,1,3,7}; truncating integer
division is identical under Spark DIV and DuckDB //). MRR/MAP use exact
reciprocal micro units (1000000 // rank).

Entries (both FULL DuckDB oracles):
- `search_ndcg_at_k`: per source — dcg10_micro, idcg10_micro (ideal =
  same judged set reordered by grade DESC), ndcg10_micro.
- `search_mrr_map`: per source, binary relevance (grade >= 2) —
  first_rel_rank, rr_micro, ap10_micro (sum of precision-at-hit over the
  top 10, normalized by min(n_rel, 10)), n_rel.

Scale: both windows partition by `source` — ONE shuffle on the query key,
then a per-group sort. Group sizes are docs-per-query; if one query had
unbounded judgments, swap the row_number window for the two-phase
per-partition top-k merge used in similarity.py (the ranking only needs
the top 10 plus the per-group relevant counts, both of which have
map-side partial forms). The metric aggregation itself is
one-row-per-query — broadcast-joinable downstream.

Reference parity: the reference has no eval surface at all
(reference core is the movie ETL, ~512 LoC); this extends SURVEY.md's
LLM-pipeline mandate (eval family) beyond classification metrics to
ranking metrics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from movie_data_transformer_spark.operators.text import PORTABLE_HASH_SPARK_SQL
from movie_data_transformer_spark.sources.tables import load_table

K = 10

#: round(1e6 / log2(i+1)) for i = 1..10 — planted identically in both
#: engines so no transcendental is ever evaluated at query time.
DISC_MICRO = (
    1000000,
    630930,
    500000,
    430677,
    386853,
    356207,
    333333,
    315465,
    301030,
    289065,
)

#: planted graded relevance 0..3 per (source, doc_id)
_REL_SPARK = (
    PORTABLE_HASH_SPARK_SQL.format(x="concat(source, '#', CAST(doc_id AS STRING))")
    + " % 4"
)
_REL_DUCK = (
    "CAST('0x' || substr(md5(source || '#' || CAST(doc_id AS VARCHAR)), 1, 8)"
    " AS BIGINT) % 4"
)

_DISC_SPARK = "array(" + ", ".join(f"{d}L" for d in DISC_MICRO) + ")"
_DISC_DUCK = "[" + ", ".join(str(d) for d in DISC_MICRO) + "]"


def _judged(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.selectExpr(
        "source",
        "doc_id",
        "n_chars",
        f"{_REL_SPARK} AS rel",
    )


def q_search_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    j = _judged(spark, sf_dir)
    w_sys = Window.partitionBy("source").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    w_ideal = Window.partitionBy("source").orderBy(
        F.col("rel").desc(), F.col("doc_id")
    )
    ranked = j.select(
        "source",
        "rel",
        F.row_number().over(w_sys).alias("sys_rn"),
        F.row_number().over(w_ideal).alias("ideal_rn"),
    )
    gain = "(CAST(pow(2, rel) AS BIGINT) - 1)"
    per_q = ranked.groupBy("source").agg(
        F.expr(
            f"sum(IF(sys_rn <= {K},"
            f" {gain} * element_at({_DISC_SPARK}, sys_rn), 0L))"
        )
        .cast("bigint")
        .alias("dcg10_micro"),
        F.expr(
            f"sum(IF(ideal_rn <= {K},"
            f" {gain} * element_at({_DISC_SPARK}, ideal_rn), 0L))"
        )
        .cast("bigint")
        .alias("idcg10_micro"),
    )
    return per_q.selectExpr(
        "source",
        "dcg10_micro",
        "idcg10_micro",
        "CASE WHEN idcg10_micro = 0 THEN 0L ELSE"
        " CAST(dcg10_micro * 1000000 DIV idcg10_micro AS BIGINT)"
        " END AS ndcg10_micro",
    )


SQL_SEARCH_NDCG_AT_K = f"""
WITH judged AS (
    SELECT source, doc_id, n_chars, {_REL_DUCK} AS rel FROM documents
),
ranked AS (
    SELECT source, rel,
           row_number() OVER (PARTITION BY source
                              ORDER BY n_chars DESC, doc_id) AS sys_rn,
           row_number() OVER (PARTITION BY source
                              ORDER BY rel DESC, doc_id) AS ideal_rn
    FROM judged
),
per_q AS (
    SELECT source,
           CAST(sum(CASE WHEN sys_rn <= {K} THEN
                (CAST(pow(2, rel) AS BIGINT) - 1) * ({_DISC_DUCK})[sys_rn]
                ELSE 0 END) AS BIGINT) AS dcg10_micro,
           CAST(sum(CASE WHEN ideal_rn <= {K} THEN
                (CAST(pow(2, rel) AS BIGINT) - 1) * ({_DISC_DUCK})[ideal_rn]
                ELSE 0 END) AS BIGINT) AS idcg10_micro
    FROM ranked GROUP BY source
)
SELECT source, dcg10_micro, idcg10_micro,
       CASE WHEN idcg10_micro = 0 THEN CAST(0 AS BIGINT) ELSE
            CAST(dcg10_micro * 1000000 // idcg10_micro AS BIGINT)
       END AS ndcg10_micro
FROM per_q
"""


def q_search_mrr_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    j = _judged(spark, sf_dir).selectExpr(
        "source", "n_chars", "doc_id", "CAST(rel >= 2 AS INT) AS hit"
    )
    w_sys = Window.partitionBy("source").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    ranked = j.select(
        "source",
        "hit",
        F.row_number().over(w_sys).alias("rn"),
        F.sum("hit").over(
            Window.partitionBy("source")
            .orderBy(F.col("n_chars").desc(), F.col("doc_id"))
            .rowsBetween(Window.unboundedPreceding, 0)
        ).alias("cum_hits"),
    )
    per_q = ranked.groupBy("source").agg(
        F.expr("min(IF(hit = 1, rn, NULL))").alias("first_rel_rank"),
        F.sum("hit").cast("bigint").alias("n_rel"),
        F.expr(
            f"sum(IF(hit = 1 AND rn <= {K},"
            " CAST(cum_hits AS BIGINT) * 1000000 DIV rn, 0L))"
        )
        .cast("bigint")
        .alias("ap_num_micro"),
    )
    return per_q.selectExpr(
        "source",
        "CAST(coalesce(first_rel_rank, 0) AS BIGINT) AS first_rel_rank",
        "n_rel",
        "CASE WHEN first_rel_rank IS NULL THEN 0L ELSE"
        " CAST(1000000 DIV first_rel_rank AS BIGINT) END AS rr_micro",
        f"CASE WHEN n_rel = 0 THEN 0L ELSE"
        f" CAST(ap_num_micro DIV least(n_rel, {K}) AS BIGINT)"
        f" END AS ap10_micro",
    )


SQL_SEARCH_MRR_MAP = f"""
WITH judged AS (
    SELECT source, doc_id, n_chars,
           CAST({_REL_DUCK} >= 2 AS INT) AS hit
    FROM documents
),
ranked AS (
    SELECT source, hit,
           row_number() OVER (PARTITION BY source
                              ORDER BY n_chars DESC, doc_id) AS rn,
           sum(hit) OVER (PARTITION BY source
                          ORDER BY n_chars DESC, doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum_hits
    FROM judged
),
per_q AS (
    SELECT source,
           min(CASE WHEN hit = 1 THEN rn END) AS first_rel_rank,
           CAST(sum(hit) AS BIGINT) AS n_rel,
           CAST(sum(CASE WHEN hit = 1 AND rn <= {K} THEN
                CAST(cum_hits AS BIGINT) * 1000000 // rn ELSE 0 END)
               AS BIGINT) AS ap_num_micro
    FROM ranked GROUP BY source
)
SELECT source,
       CAST(coalesce(first_rel_rank, 0) AS BIGINT) AS first_rel_rank,
       n_rel,
       CASE WHEN first_rel_rank IS NULL THEN CAST(0 AS BIGINT) ELSE
            CAST(1000000 // first_rel_rank AS BIGINT) END AS rr_micro,
       CASE WHEN n_rel = 0 THEN CAST(0 AS BIGINT) ELSE
            CAST(ap_num_micro // least(n_rel, {K}) AS BIGINT)
       END AS ap10_micro
FROM per_q
"""


QUERIES = {
    "search_ndcg_at_k": (q_search_ndcg_at_k, SQL_SEARCH_NDCG_AT_K),
    "search_mrr_map": (q_search_mrr_map, SQL_SEARCH_MRR_MAP),
}
