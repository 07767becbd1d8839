"""Round-6 retrieval extension: hybrid lexical+vector fusion via
Reciprocal Rank Fusion — THE standard way production search combines a
BM25 list with a semantic list (Cormack 2009; every RAG stack's default).

RRF needs only the RANKS of each list (score scales never have to be
calibrated against each other — the reason it won out in practice), and
ranks are already exact integers here: the BM25 list is the integer-micro
BM25 top-k (search_ranking_queries), the "semantic" list is an exact
integer dot-product ranking over hashing-trick vectors (the
text_feature_hashing dims — dot products need only the SHARED hashed
dims, never the dense vector). rrf_micro = 1e6 DIV (60 + rank) summed
over the lists a doc appears in — every step integer, FULL oracle.

Scale: both candidate lists are per-query top-k windows over
vocabulary-pruned joins (the corpus never shuffles unpruned); fusion is
a full-outer join of two k-row-per-query lists — trivially small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from movie_data_transformer_spark.operators.embedding_pipeline_queries import (
    FH_DIMS,
)
from movie_data_transformer_spark.operators.search_ranking_queries import (
    QUERIES as _SRQ,
    QUERY_TERMS,
    q_search_bm25_topk,
)
from movie_data_transformer_spark.operators.text import PORTABLE_HASH_SPARK_SQL, TOKENS_SPARK_SQL
from movie_data_transformer_spark.sources.tables import load_table

RRF_K = 60
FUSED_TOP = 10

_QUERY_VALUES = ", ".join(f"({qid}, '{t}')" for qid, t in QUERY_TERMS)

# the hashed-lexical ranking, shared shape for Spark (DIV, conv-hash)
# and DuckDB (//, '0x'-hash) via format placeholders
_VEC_RANK_TMPL = """
qdims AS (
    SELECT query_id, dim, CAST(count(*) AS BIGINT) AS qc
    FROM (
        SELECT query_id,
               CAST({hash_expr} AS BIGINT) % {dims} AS dim
        FROM (SELECT * FROM (VALUES {qvals}) AS qt(query_id, term))
    ) GROUP BY 1, 2
),
ddims AS (
    SELECT doc_id,
           CAST({hash_tok_expr} AS BIGINT) % {dims} AS dim,
           CAST(count(*) AS BIGINT) AS dc
    FROM toks GROUP BY 1, 2
),
dots AS (
    SELECT q.query_id, d.doc_id,
           CAST(sum(q.qc * d.dc) AS BIGINT) AS dot
    FROM qdims q JOIN ddims d ON d.dim = q.dim
    GROUP BY 1, 2
),
vec_ranked AS (
    SELECT query_id, doc_id, dot,
           row_number() OVER (PARTITION BY query_id
               ORDER BY dot DESC, doc_id ASC) AS vrank
    FROM dots WHERE dot > 0
)
"""


def q_search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuse the BM25 top-10 with the hashed-vector dot top-10 per query
    by exact integer RRF; output the fused top-10 with both source
    ranks. Composes the production BM25 operator verbatim (temp view)."""
    q_search_bm25_topk(spark, sf_dir).createOrReplaceTempView("_rrf_bm25")
    docs = load_table(spark, sf_dir, "documents")
    docs.selectExpr(
        "doc_id", f"explode({TOKENS_SPARK_SQL.format(x='text')}) AS tok"
    ).createOrReplaceTempView("_rrf_toks")
    vec_ctes = _VEC_RANK_TMPL.format(
        hash_expr=PORTABLE_HASH_SPARK_SQL.format(x="term"),
        hash_tok_expr=PORTABLE_HASH_SPARK_SQL.format(x="tok"),
        dims=FH_DIMS,
        qvals=_QUERY_VALUES,
    )
    return spark.sql(
        f"""
        WITH toks AS (SELECT doc_id, tok FROM _rrf_toks),
        {vec_ctes},
        vec_top AS (
            SELECT query_id, doc_id, CAST(vrank AS INT) AS vrank
            FROM vec_ranked WHERE vrank <= {FUSED_TOP}
        ),
        bm AS (SELECT query_id, doc_id, rank AS brank FROM _rrf_bm25),
        fused AS (
            SELECT coalesce(b.query_id, v.query_id) AS query_id,
                   coalesce(b.doc_id, v.doc_id) AS doc_id,
                   b.brank, v.vrank,
                   coalesce(1000000 DIV ({RRF_K} + b.brank), 0)
                       + coalesce(1000000 DIV ({RRF_K} + v.vrank), 0)
                       AS rrf_micro
            FROM bm b FULL OUTER JOIN vec_top v
              ON v.query_id = b.query_id AND v.doc_id = b.doc_id
        )
        SELECT query_id, CAST(rk AS INT) AS fused_rank, doc_id,
               CAST(rrf_micro AS BIGINT) AS rrf_micro,
               CAST(brank AS INT) AS rank_bm25,
               CAST(vrank AS INT) AS rank_vec
        FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY rrf_micro DESC, doc_id ASC) AS rk
            FROM fused
        )
        WHERE rk <= {FUSED_TOP}
        """
    )


def _rrf_sql() -> str:
    bm25_sql = _SRQ["search_bm25_topk"][1]
    vec_ctes = _VEC_RANK_TMPL.format(
        hash_expr="CAST('0x' || substr(md5(term), 1, 8) AS BIGINT)",
        hash_tok_expr="CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT)",
        dims=FH_DIMS,
        qvals=_QUERY_VALUES,
    )
    return f"""
WITH toks AS (
    SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
    FROM documents
),
{vec_ctes},
vec_top AS (
    SELECT query_id, doc_id, CAST(vrank AS INT) AS vrank
    FROM vec_ranked WHERE vrank <= {FUSED_TOP}
),
bm AS (
    SELECT query_id, doc_id, rank AS brank FROM ({bm25_sql})
),
fused AS (
    SELECT coalesce(b.query_id, v.query_id) AS query_id,
           coalesce(b.doc_id, v.doc_id) AS doc_id,
           b.brank, v.vrank,
           coalesce(1000000 // ({RRF_K} + b.brank), 0)
               + coalesce(1000000 // ({RRF_K} + v.vrank), 0) AS rrf_micro
    FROM bm b FULL OUTER JOIN vec_top v
      ON v.query_id = b.query_id AND v.doc_id = b.doc_id
)
SELECT query_id, CAST(rk AS INT) AS fused_rank, doc_id,
       CAST(rrf_micro AS BIGINT) AS rrf_micro,
       CAST(brank AS INT) AS rank_bm25,
       CAST(vrank AS INT) AS rank_vec
FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
        ORDER BY rrf_micro DESC, doc_id ASC) AS rk
    FROM fused
)
WHERE rk <= {FUSED_TOP}
"""


QUERIES = {
    "search_hybrid_rrf": (q_search_hybrid_rrf, _rrf_sql()),
}
