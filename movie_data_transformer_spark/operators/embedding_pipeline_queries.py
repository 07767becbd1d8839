"""Round-6 embedding pipeline composition: store-compressed, search —
the production retrieval path where the corpus lives as int8 codes
(4x smaller, emb_int8_quantize) and queries run against RECONSTRUCTED
vectors. Binds compression -> reconstruction -> scoring -> ranking as
one dataflow: a wrong quantize scale, reconstruction convention, or
tie-break shows up as a ranking diff the driver hash catches.

All integer: micro quantize (floor(v * 1e6)), affine codes
(x - vmin) * 255 DIV range, reconstruction vmin + k * range DIV 255,
bigint dot products (|recon| <= ~2^21, 64-dim dots < 2^48 — exact even
through DuckDB's double list_inner_product, since integers below 2^53
are exact in IEEE and each partial stays integral). FULL oracle.

Scale: the query side is broadcast (50 rows at sf0.1-like corpora; a
real deployment batches queries); corpus scoring is map-side; one
ranking exchange for the per-query top-k window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_data_transformer_spark.operators.text import PORTABLE_HASH_SPARK_SQL
from movie_data_transformer_spark.sources.tables import load_table

K = 5

_VM = "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"


def _reconstructed(emb: DataFrame) -> DataFrame:
    return (
        emb.selectExpr("vec_id", f"{_VM} AS vm")
        .selectExpr(
            "vec_id",
            "array_min(vm) AS vmin",
            "array_max(vm) - array_min(vm) AS rng",
            "vm",
        )
        .selectExpr(
            "vec_id",
            "transform(vm, x -> CASE WHEN rng = 0 THEN CAST(0 AS BIGINT)"
            " ELSE (x - vmin) * 255 DIV rng END) AS codes",
            "vmin",
            "rng",
        )
        .selectExpr(
            "vec_id",
            "transform(codes, k -> vmin + k * rng DIV 255) AS recon",
        )
    )


def q_emb_int8_retrieval_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    recon = _reconstructed(emb)
    q = recon.filter(F.col("vec_id") % 50 == 0).selectExpr(
        "vec_id AS query_id", "recon AS qr"
    )
    c = recon.selectExpr("vec_id AS neighbor_id", "recon AS cr")
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .selectExpr(
            "query_id",
            "neighbor_id",
            "aggregate(zip_with(qr, cr, (a, b) -> a * b), CAST(0 AS BIGINT),"
            " (acc, x) -> acc + x) AS dot_micro2",
        )
    )
    return scored.selectExpr(
        "query_id",
        "neighbor_id",
        "dot_micro2",
        "CAST(row_number() OVER (PARTITION BY query_id"
        " ORDER BY dot_micro2 DESC, neighbor_id ASC) AS INT) AS rk",
    ).filter(F.col("rk") <= K)


SQL_EMB_INT8_RETRIEVAL_E2E = f"""
WITH vm AS (
    SELECT vec_id,
           list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
    FROM embeddings
),
anch AS (
    SELECT vec_id, list_min(v) AS vmin, list_max(v) - list_min(v) AS rng, v
    FROM vm
),
recon AS (
    SELECT vec_id,
           list_transform(v, x -> vmin +
               (CASE WHEN rng = 0 THEN 0 ELSE (x - vmin) * 255 // rng END)
               * rng // 255) AS r
    FROM anch
)
SELECT query_id, neighbor_id, dot_micro2, CAST(rk AS INT) AS rk FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           CAST(list_inner_product(CAST(q.r AS DOUBLE[]),
                                   CAST(c.r AS DOUBLE[])) AS BIGINT)
               AS dot_micro2,
           row_number() OVER (PARTITION BY q.vec_id
               ORDER BY CAST(list_inner_product(CAST(q.r AS DOUBLE[]),
                             CAST(c.r AS DOUBLE[])) AS BIGINT) DESC,
                        c.vec_id ASC) AS rk
    FROM recon q JOIN recon c ON q.vec_id <> c.vec_id
    WHERE q.vec_id % 50 = 0
) t WHERE rk <= {K}
"""


QUERIES = {
    "emb_int8_retrieval_e2e": (q_emb_int8_retrieval_e2e, SQL_EMB_INT8_RETRIEVAL_E2E),
}


FH_DIMS = 64


def q_text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The feature-hashing trick (Weinberger 2009): each document's
    token multiset folded into a fixed 64-dim count vector via
    portable_hash(token) mod dims — the constant-memory vectorizer that
    feeds linear classifiers and ANN without a vocabulary table (the
    quality_classifier's hashed features, surfaced as a first-class
    vectorization operator).

    Binding: the dense vector CONTENT is md5-bound (comma-joined counts
    in dim order, zeros filled from a per-doc dims spine), plus nnz and
    l1 = token count — a vector value diff anywhere flips the hash.

    Scale: explode + (doc, dim) agg + per-doc fold; the 64-row dim
    spine explodes per doc (bounded fanout), no vocabulary state, no
    driver-side anything."""
    from movie_data_transformer_spark.operators.dedup import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    docs.select(
        "doc_id",
        F.explode(F.split(normalize_text(F.col("text")), " ")).alias("tok"),
    ).createOrReplaceTempView("_fh_toks")
    return spark.sql(
        f"""
        WITH counts AS (
            SELECT doc_id,
                   {PORTABLE_HASH_SPARK_SQL.format(x="tok")} % {FH_DIMS} AS dim,
                   CAST(count(*) AS BIGINT) AS c
            FROM _fh_toks GROUP BY 1, 2
        ),
        spine AS (
            SELECT DISTINCT doc_id, explode(sequence(0, {FH_DIMS - 1})) AS dim
            FROM counts
        ),
        dense AS (
            SELECT s.doc_id, s.dim, coalesce(c.c, 0) AS c
            FROM spine s LEFT JOIN counts c
              ON c.doc_id = s.doc_id AND c.dim = s.dim
        )
        SELECT doc_id,
               md5(array_join(transform(array_sort(collect_list(
                   struct(dim, c))), x -> CAST(x.c AS STRING)), ',')) AS vec_md5,
               CAST(count(CASE WHEN c > 0 THEN 1 END) AS BIGINT) AS nnz,
               CAST(sum(c) AS BIGINT) AS l1
        FROM dense GROUP BY doc_id
        """
    )


SQL_TEXT_FEATURE_HASHING = f"""
WITH corpus AS (
    SELECT doc_id,
           lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS text
    FROM documents
),
toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM corpus
),
counts AS (
    SELECT doc_id,
           CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) % {FH_DIMS} AS dim,
           CAST(count(*) AS BIGINT) AS c
    FROM toks GROUP BY 1, 2
),
spine AS (
    SELECT DISTINCT doc_id, unnest(range(0, {FH_DIMS})) AS dim FROM counts
),
dense AS (
    SELECT s.doc_id, s.dim, coalesce(c.c, 0) AS c
    FROM spine s LEFT JOIN counts c
      ON c.doc_id = s.doc_id AND c.dim = s.dim
)
SELECT doc_id,
       md5(string_agg(CAST(c AS VARCHAR), ',' ORDER BY dim)) AS vec_md5,
       CAST(count(CASE WHEN c > 0 THEN 1 END) AS BIGINT) AS nnz,
       CAST(sum(c) AS BIGINT) AS l1
FROM dense GROUP BY doc_id
"""


QUERIES["text_feature_hashing"] = (
    q_text_feature_hashing,
    SQL_TEXT_FEATURE_HASHING,
)


K_CENTERS = 8


def q_emb_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset selection (farthest-point traversal, the
    classic 2-approximation): seed with the min vec_id, then repeatedly
    take the point FARTHEST from every chosen center — the diverse-
    subset selector behind coreset curation and k-means++-style seeding
    (complementing SemDeDup, which removes the CLOSEST pairs).

    Exact: vectors quantized to integer micro (floor(v*1e6), the IVF
    convention), distances are bigint squared-L2 sums, and each round's
    argmax breaks ties on vec_id — fully deterministic, so the entry
    carries a FULL oracle: the SAME greedy sequence as a DuckDB
    WITH RECURSIVE over a list accumulator (the iterative-algorithm
    oracle technique). Output: (sel_rank, vec_id, d2_at_selection) —
    d2 at rank k+1's selection is the coverage radius^2 of the rank-k
    coreset, nonincreasing by construction (pinned in pytest).

    Scale: each round is one map pass (64-literal center array folded
    row-side, generated SQL — the r5 py4j lesson) + a 1-row
    TakeOrdered argmax collect, k rounds total — the pagerank-shaped
    driver-probe pattern; the vector table is persisted once."""
    vecs = (
        load_table(spark, sf_dir, "embeddings")
        .selectExpr(
            "vec_id",
            "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)"
            " * 1000000) AS BIGINT)) AS e",
        )
        .persist()
    )

    def d2_expr(center: list[int]) -> str:
        arr = ", ".join(f"{c}L" for c in center)
        return (
            f"aggregate(zip_with(e, array({arr}), (a, b) -> (a-b)*(a-b)),"
            " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        )

    seed = vecs.orderBy("vec_id").limit(1).collect()[0]
    chosen = [(1, seed.vec_id, None)]
    cur = vecs.selectExpr("vec_id", "e", f"{d2_expr(seed.e)} AS mind2")
    for rank in range(2, K_CENTERS + 1):
        chosen_ids = ", ".join(str(c[1]) for c in chosen)
        nxt = (
            cur.filter(f"vec_id NOT IN ({chosen_ids})")
            .orderBy(F.col("mind2").desc(), F.col("vec_id").asc())
            .limit(1)
            .collect()[0]
        )
        chosen.append((rank, nxt.vec_id, nxt.mind2))
        cur = cur.selectExpr(
            "vec_id", "e", f"least(mind2, {d2_expr(nxt.e)}) AS mind2"
        )
    vecs.unpersist(blocking=False)
    return spark.createDataFrame(
        chosen, "sel_rank int, vec_id long, d2_at_selection long"
    )


SQL_EMB_KCENTER_CORESET = f"""
WITH RECURSIVE vecs AS (
    SELECT vec_id,
           list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)
               * 1000000) AS BIGINT)) AS e
    FROM embeddings
),
sel AS (
    SELECT 1 AS it, [v.vec_id] AS ids, [v.e] AS centers,
           [CAST(NULL AS BIGINT)] AS d2s
    FROM (SELECT * FROM vecs ORDER BY vec_id LIMIT 1) v
  UNION ALL
    SELECT it + 1, list_append(ids, nv.vec_id),
           list_append(centers, nv.e), list_append(d2s, nv.md)
    FROM sel, LATERAL (
        SELECT v.vec_id, v.e,
               min(CAST(list_sum(list_transform(list_zip(v.e, u.cv),
                   p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT)) AS md
        FROM vecs v, unnest(sel.centers) AS u(cv)
        WHERE NOT list_contains(sel.ids, v.vec_id)
        GROUP BY v.vec_id, v.e
        ORDER BY md DESC, v.vec_id ASC
        LIMIT 1
    ) nv
    WHERE it < {K_CENTERS}
)
SELECT CAST(u.i AS INT) AS sel_rank, ids[u.i] AS vec_id,
       d2s[u.i] AS d2_at_selection
FROM (SELECT ids, d2s FROM sel WHERE it = {K_CENTERS}),
     unnest(generate_series(1, {K_CENTERS})) u(i)
"""


QUERIES["emb_kcenter_coreset"] = (
    q_emb_kcenter_coreset,
    SQL_EMB_KCENTER_CORESET,
)
