"""Corpus entropy-rate diagnostics per language — unigram entropy and
bigram CONDITIONAL entropy (Shannon): the predictability fingerprint
corpus-QA uses to catch templated/boilerplate text (low conditional
entropy at normal unigram entropy = rigid phrasing; both low = tiny
vocabulary; compare the PMI collocations and Zipf/heaps diagnostics
already shipped).

    H1      = -(1/N)  * sum_w  n_w  * ln(n_w / N)
    H2|1    = -(1/N2) * sum_ab n_ab * ln(n_ab / n_a·)

where n_a· is the count of bigrams whose FIRST token is a (so each
conditional distribution normalizes exactly). Exactness discipline: one
ln per TYPE (not per occurrence) on identical integer ratios, each
term multiplied by its integer count, scaled and floored to micro nats
per-type BEFORE the sum (order-independent integer total — the
dsir_queries libm note), final DIV by N in exact bigint.

Entry `text_entropy_rate_by_lang` (FULL DuckDB oracle): per lang —
n_tokens, n_bigrams, h1_micro_nats, h2_cond_micro_nats, and
redundancy_micro = 1e6 - h2*1e6/h1 (how much the bigram model
compresses vs unigram).

Scale: (lang, token) and (lang, tok, next-tok) aggregates (map-side
combinable, vocab-bounded); bigrams pair consecutive tokens WITHIN a
doc via posexplode + a doc-keyed window. One doc-keyed shuffle + two
type-grain aggs; scan-bound at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from movie_data_transformer_spark.operators.text import TOKENS_SPARK_SQL
from movie_data_transformer_spark.sources.tables import load_table


def _bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.selectExpr(
        "doc_id",
        "lang",
        f"posexplode({TOKENS_SPARK_SQL.format(x='lower(text)')}) AS (p, tok)",
    )
    w = Window.partitionBy("doc_id").orderBy("p")
    return (
        toks.withColumn("nxt", F.lead("tok").over(w))
        .filter(F.col("nxt").isNotNull())
        .groupBy("lang", "tok", "nxt")
        .agg(F.count("*").cast("bigint").alias("n_ab"))
    )


_CTES = r"""
toks AS (
    SELECT doc_id, lang,
           generate_subscripts(t, 1) AS p, unnest(t) AS tok
    FROM (SELECT doc_id, lang,
                 string_split_regex(trim(lower(text)), '\s+') AS t
          FROM documents)
),
uni AS (
    SELECT lang, tok, CAST(count(*) AS BIGINT) AS n_w FROM toks GROUP BY 1, 2
),
uni_tot AS (
    SELECT lang, CAST(sum(n_w) AS BIGINT) AS n FROM uni GROUP BY lang
),
h1 AS (
    SELECT u.lang,
           CAST(sum(CAST(floor(-ln(CAST(u.n_w AS DOUBLE) / t.n)
                * u.n_w * 1000000) AS BIGINT)) AS BIGINT) AS h1_sum,
           max(t.n) AS n
    FROM uni u JOIN uni_tot t ON t.lang = u.lang
    GROUP BY u.lang
),
big AS (
    SELECT a.lang, a.tok, b.tok AS nxt, CAST(count(*) AS BIGINT) AS n_ab
    FROM toks a JOIN toks b
      ON b.doc_id = a.doc_id AND b.p = a.p + 1
    GROUP BY 1, 2, 3
),
firsts AS (
    SELECT lang, tok, CAST(sum(n_ab) AS BIGINT) AS n_a FROM big GROUP BY 1, 2
),
h2 AS (
    SELECT g.lang,
           CAST(sum(CAST(floor(-ln(CAST(g.n_ab AS DOUBLE) / f.n_a)
                * g.n_ab * 1000000) AS BIGINT)) AS BIGINT) AS h2_sum,
           CAST(sum(g.n_ab) AS BIGINT) AS n2
    FROM big g JOIN firsts f ON f.lang = g.lang AND f.tok = g.tok
    GROUP BY g.lang
)"""


def q_text_entropy_rate_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    uni = (
        docs.selectExpr(
            "lang", f"explode({TOKENS_SPARK_SQL.format(x='lower(text)')}) AS tok"
        )
        .groupBy("lang", "tok")
        .agg(F.count("*").cast("bigint").alias("n_w"))
    )
    w_lang = Window.partitionBy("lang")
    h1 = (
        uni.withColumn("n", F.sum("n_w").over(w_lang))
        .selectExpr(
            "lang",
            "n",
            "CAST(floor(-ln(CAST(n_w AS DOUBLE) / n) * n_w * 1000000)"
            " AS BIGINT) AS term",
        )
        .groupBy("lang")
        .agg(
            F.sum("term").cast("bigint").alias("h1_sum"),
            F.max("n").cast("bigint").alias("n"),
        )
    )
    big = _bigram_counts(spark, sf_dir)
    w_first = Window.partitionBy("lang", "tok")
    h2 = (
        big.withColumn("n_a", F.sum("n_ab").over(w_first))
        .selectExpr(
            "lang",
            "n_ab",
            "CAST(floor(-ln(CAST(n_ab AS DOUBLE) / n_a) * n_ab * 1000000)"
            " AS BIGINT) AS term",
        )
        .groupBy("lang")
        .agg(
            F.sum("term").cast("bigint").alias("h2_sum"),
            F.sum("n_ab").cast("bigint").alias("n2"),
        )
    )
    return h1.join(h2, "lang").selectExpr(
        "lang",
        "n AS n_tokens",
        "n2 AS n_bigrams",
        "CAST(h1_sum DIV n AS BIGINT) AS h1_micro_nats",
        "CAST(h2_sum DIV n2 AS BIGINT) AS h2_cond_micro_nats",
        "CASE WHEN h1_sum DIV n = 0 THEN 0L ELSE"
        " CAST(1000000 - (h2_sum DIV n2) * 1000000 DIV (h1_sum DIV n)"
        " AS BIGINT) END AS redundancy_micro",
    )


SQL_TEXT_ENTROPY_RATE_BY_LANG = f"""
WITH {_CTES}
SELECT h1.lang,
       h1.n AS n_tokens,
       h2.n2 AS n_bigrams,
       CAST(h1.h1_sum // h1.n AS BIGINT) AS h1_micro_nats,
       CAST(h2.h2_sum // h2.n2 AS BIGINT) AS h2_cond_micro_nats,
       CASE WHEN h1.h1_sum // h1.n = 0 THEN CAST(0 AS BIGINT) ELSE
            CAST(1000000 - (h2.h2_sum // h2.n2) * 1000000
                 // (h1.h1_sum // h1.n) AS BIGINT)
       END AS redundancy_micro
FROM h1 JOIN h2 ON h2.lang = h1.lang
"""


QUERIES = {
    "text_entropy_rate_by_lang": (
        q_text_entropy_rate_by_lang,
        SQL_TEXT_ENTROPY_RATE_BY_LANG,
    ),
}
