"""BM25 top-k retrieval — the search-ranking flagship, integer-exact.

Okapi BM25 (Robertson/Sparck Jones) with k1 = 1.2, b = 0.75, scored for
a fixed literal query set over the documents corpus, top 10 per query.
Both constants are rationals (6/5, 3/4), so each term's contribution
rationalizes to a pure integer ratio — no log() and no FP division in
the score (the text_unigram_lm lesson: neither JVM nor libm log is
correctly rounded, so scores that must rank identically cross-engine
stay in exact integer micro-units):

  idf        = (N - df + 1/2) / (df + 1/2)          -> (2N-2df+1)/(2df+1)
  tf_norm    = tf(k1+1) / (tf + k1(1 - b + b dl/avgdl))
             = 22 L tf / (10 L tf + 3 L + 9 dl N)   with avgdl = L/N
  term score = floor(idf_micro * 22 L tf / (10 L tf + 3 L + 9 dl N))

(The classic +1-inside-log idf is monotone in this rational idf, so
rankings match the textbook formula; score VALUES are the micro-floored
rational variant.) Document score = sum of integer term scores; ties
broken by doc_id for a cross-engine total order.

Scale shape: tokenize ONCE and carry dl alongside the exploded tokens,
filter to the query vocabulary map-side (the early-pruning step that
makes this viable at 100 TB: only matching postings shuffle), then one
groupBy(doc, term) for tf; df and the final per-query ranking ride tiny
broadcast joins. Corpus totals (N, L) come from a separate 1-row
aggregate scan — at production scale those are precomputed stats, not a
second pass. Overflow safety: the idf_micro x (22 L tf) product passes
int64 around ~5e4 docs x ~1e6 tokens, so it is taken in DECIMAL(38,0)
with a remainder-subtract floor (exact, same trunc semantics as the
DuckDB twin's HUGEINT //) — good to ~1e12-doc corpora; the inner
idf_micro DIV itself stays int64-safe below ~4e12 docs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_data_transformer_spark.operators.text import TOKENS_SPARK_SQL
from movie_data_transformer_spark.sources.tables import load_table

#: fixed literal query set (query_id, term) — shared with the oracle.
QUERY_TERMS: list[tuple[int, str]] = [
    (1, "slow"),
    (1, "query"),
    (2, "fast"),
    (2, "merge"),
    (3, "table"),
    (3, "scan"),
    (3, "join"),
]
TOP_K = 10

# The term-score expressions, shared with the overflow regression test
# (tests/test_search_stats.py) so a future edit cannot drift from what
# the test pins. The idf_micro x (22 L tf) product overflows int64
# around ~5e4 docs x ~1e6 tokens, so it is taken in DECIMAL and floored
# with the remainder-subtract trick (exact; same trunc semantics as the
# oracle's HUGEINT //).
SCORE_M_EXPR = (
    "CAST((2 * n - 2 * df + 1) * 1000000L DIV (2 * df + 1)"
    " AS DECIMAL(19,0)) * CAST(22 * l * tf AS DECIMAL(19,0)) AS m"
)
SCORE_D_EXPR = "CAST(10 * l * tf + 3 * l + 9 * dl * n AS DECIMAL(19,0)) AS d"
SCORE_FLOOR_EXPR = "CAST((m - (m % d)) / d AS BIGINT) AS term_score_micro"


def q_search_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.selectExpr("doc_id", f"{TOKENS_SPARK_SQL.format(x='text')} AS t")
    vocab = sorted({t for _, t in QUERY_TERMS})
    # one scan: dl rides along the exploded tokens; prune to the query
    # vocabulary BEFORE the shuffle
    tf = (
        toks.select(
            "doc_id",
            F.expr("CAST(size(t) AS BIGINT)").alias("dl"),
            F.explode("t").alias("term"),
        )
        .filter(F.col("term").isin(*vocab))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").cast("bigint").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").cast("bigint").alias("df"))
    corpus = toks.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.expr("size(t)")).cast("bigint").alias("l"),
    )
    q = spark.createDataFrame(QUERY_TERMS, "query_id int, term string")
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(F.broadcast(q), "term")
        .crossJoin(F.broadcast(corpus))
        .selectExpr("query_id", "doc_id", SCORE_M_EXPR, SCORE_D_EXPR)
        .selectExpr("query_id", "doc_id", SCORE_FLOOR_EXPR)
    )
    agg = scored.groupBy("query_id", "doc_id").agg(
        F.sum("term_score_micro").cast("bigint").alias("score_micro")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_micro").desc(), F.col("doc_id").asc()
    )
    return (
        agg.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "doc_id", "score_micro")
    )


_QUERY_VALUES = ",".join(f"({qid},'{t}')" for qid, t in QUERY_TERMS)

SQL_SEARCH_BM25_TOPK = r"""
WITH toks AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
),
dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toks),
corpus AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS l FROM dl),
q(query_id, term) AS (VALUES __QUERY_VALUES__),
tf AS (
    SELECT doc_id, tok AS term, CAST(count(*) AS BIGINT) AS tf
    FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
    WHERE tok IN (SELECT term FROM q)
    GROUP BY doc_id, tok
),
dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
scored AS (
    SELECT qq.query_id, tf.doc_id,
           CAST(
             (CAST((2 * c.n - 2 * d.df + 1) AS HUGEINT) * 1000000 // (2 * d.df + 1))
             * (22 * c.l * tf.tf)
             // (10 * c.l * tf.tf + 3 * c.l + 9 * dl.dl * c.n)
           AS BIGINT) AS term_score_micro
    FROM q qq
    JOIN tf ON tf.term = qq.term
    JOIN dfreq d ON d.term = qq.term
    JOIN dl ON dl.doc_id = tf.doc_id
    CROSS JOIN corpus c
),
agg AS (
    SELECT query_id, doc_id, CAST(sum(term_score_micro) AS BIGINT) AS score_micro
    FROM scored GROUP BY query_id, doc_id
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY score_micro DESC, doc_id ASC) AS rank
    FROM agg
)
SELECT query_id, CAST(rank AS INT) AS rank, doc_id, score_micro
FROM ranked WHERE rank <= __TOP_K__
""".replace("__QUERY_VALUES__", _QUERY_VALUES).replace("__TOP_K__", str(TOP_K))


#: fixed literal phrase set (phrase_id, term, offset) — consecutive-token
#: phrases, shared with the oracle.
PHRASES: list[tuple[int, str, int]] = [
    (1, "slow", 0),
    (1, "query", 1),
    (2, "table", 0),
    (2, "scan", 1),
    (2, "join", 2),
]
_PHRASE_LEN = {1: 2, 2: 3}


def q_search_phrase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search over POSITIONAL postings — the operator a
    bag-of-words index cannot answer. One elegant relational shape that
    generalizes to any phrase length k without k-way self-joins:

      postings(doc, term, pos)  JOIN  phrase(phrase_id, term, offset)
      -> candidate (phrase_id, doc, start = pos - offset)
      -> an occurrence iff the group matched ALL k offsets

    (each offset can only be matched by the one posting at exactly
    start+offset with the right term, so count(*) == k identifies a
    true consecutive occurrence, repeated phrase terms included).

    Scale: postings are pruned to the phrase vocabulary map-side, the
    phrase table is a broadcast literal, and the occurrence test is one
    groupBy on (phrase, doc, start) followed by a per-doc count — the
    same single-shuffle shape as the BM25 tf aggregation."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = sorted({t for _, t, _ in PHRASES})
    postings = (
        docs.selectExpr(
            "doc_id", f"posexplode({TOKENS_SPARK_SQL.format(x='text')}) AS (pos, term)"
        )
        .filter(F.col("term").isin(*vocab))
    )
    phrase = spark.createDataFrame(PHRASES, "phrase_id int, term string, offset int")
    plen = spark.createDataFrame(
        list(_PHRASE_LEN.items()), "phrase_id int, phrase_len int"
    )
    occurrences = (
        postings.join(F.broadcast(phrase), "term")
        .select(
            "phrase_id", "doc_id", (F.col("pos") - F.col("offset")).alias("start")
        )
        .groupBy("phrase_id", "doc_id", "start")
        .agg(F.count("*").alias("n_offsets"))
        .join(F.broadcast(plen), "phrase_id")
        .filter(F.col("n_offsets") == F.col("phrase_len"))
    )
    return occurrences.groupBy("phrase_id", "doc_id").agg(
        F.count("*").cast("bigint").alias("n_matches")
    )


_PHRASE_VALUES = ",".join(f"({p},'{t}',{o})" for p, t, o in PHRASES)
_PLEN_VALUES = ",".join(f"({p},{n})" for p, n in _PHRASE_LEN.items())

SQL_SEARCH_PHRASE_MATCH = r"""
WITH toks AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
),
postings AS (
    SELECT doc_id, unnest(t) AS term, generate_subscripts(t, 1) AS pos FROM toks
),
phrase(phrase_id, term, "offset") AS (VALUES __PHRASE_VALUES__),
plen(phrase_id, phrase_len) AS (VALUES __PLEN_VALUES__),
cand AS (
    SELECT ph.phrase_id, po.doc_id, po.pos - ph."offset" AS start
    FROM postings po JOIN phrase ph USING (term)
),
occ AS (
    SELECT c.phrase_id, c.doc_id, c.start, count(*) AS n_offsets
    FROM cand c GROUP BY 1, 2, 3
)
SELECT o.phrase_id, o.doc_id, CAST(count(*) AS BIGINT) AS n_matches
FROM occ o JOIN plen p USING (phrase_id)
WHERE o.n_offsets = p.phrase_len
GROUP BY 1, 2
""".replace("__PHRASE_VALUES__", _PHRASE_VALUES).replace("__PLEN_VALUES__", _PLEN_VALUES)


QUERIES = {
    "search_bm25_topk": (q_search_bm25_topk, SQL_SEARCH_BM25_TOPK),
    "search_phrase_match": (q_search_phrase_match, SQL_SEARCH_PHRASE_MATCH),
}
