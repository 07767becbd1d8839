"""Search-index construction, lateral top-k, and contingency-table
statistics — three more general-purpose surfaces the reference lacks
entirely (its only dataflow is `DataTransformationService.java:146-167`).

`inverted_index` is the retrieval-side artifact of the corpus pipeline
(posting lists per term), built with the SAME whitespace/lowercase
tokenizer as vocab_build so the two artifacts are consistent.

`join_lateral_topk` exercises Spark's correlated LATERAL subquery
surface (per-outer-row dependent subquery with ORDER BY + LIMIT) — the
SQL-standard alternative to the window-function top-k-per-group
(window_topk_per_group); both engines plan it as a ranked join.

`events_crosstab_chi2_cells` is the chi-square contingency table over
(event_type x hour-of-day): per-cell observed/expected/contribution. All
counts and cross-products stay in exact BIGINT (bounds: obs*g <= 1e10
and g*r*c <= 1e15 at sf0.1 — far inside int64 and double's 2^53 exact
range), so every double op is a fixed correctly-rounded sequence on
identical inputs — bit-stable across engines and partitionings.

Scale notes (100 TB): the inverted index shuffles (doc_id, token) pairs
once to (token, doc) term-frequencies and once to terms; posting lists
for stop-word-like terms are the skew risk — the freq floor caps list
length implicitly, and a production variant would shard hot terms
(term, bucket) exactly like the salted join in functions/skew.py. The
crosstab windows run on the |types|x|hours| cell relation (~60 rows).
LATERAL's ranked join shuffles suppliers once by nationkey.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from movie_data_transformer_spark.operators.text import lower_tokens
from movie_data_transformer_spark.sources.tables import load_table


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Posting lists: per token, document frequency, total term
    frequency, and the doc_id posting list (ascending, space-joined —
    string-serialized so the comparison is order-sensitive and
    engine-portable, same convention as docs_encode_ids)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(lower_tokens(F.col("text"))).alias("token"),
    ).filter(F.col("token") != "")
    tfd = toks.groupBy("token", "doc_id").agg(F.count("*").alias("tf"))
    return tfd.groupBy("token").agg(
        F.count("*").alias("doc_freq"),
        F.sum("tf").alias("total_tf"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list("doc_id")), lambda d: d.cast("string")
            ),
            " ",
        ).alias("postings"),
    )


SQL_INVERTED_INDEX = r"""
WITH tok AS (
    SELECT * FROM (
        SELECT doc_id,
               unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
        FROM documents
    ) WHERE token <> ''
),
tfd AS (SELECT token, doc_id, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2)
SELECT token,
       CAST(count(*) AS BIGINT) AS doc_freq,
       CAST(sum(tf) AS BIGINT) AS total_tf,
       string_agg(CAST(doc_id AS VARCHAR), ' ' ORDER BY doc_id ASC) AS postings
FROM tfd
GROUP BY 1
"""


def q_join_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 suppliers by account balance per nation via a correlated
    LATERAL subquery (dependent ORDER BY + LIMIT per outer row) — the
    SQL-standard form of top-k-per-group. Total tiebreak (acctbal,
    name) keeps the k-set deterministic."""
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    load_table(spark, sf_dir, "supplier").createOrReplaceTempView("supplier")
    return spark.sql(
        """
        SELECT n.n_name, t.s_name, t.s_acctbal
        FROM nation n JOIN LATERAL (
            SELECT s_name, s_acctbal FROM supplier s
            WHERE s.s_nationkey = n.n_nationkey
            ORDER BY s_acctbal DESC, s_name ASC LIMIT 2
        ) t
        """
    )


SQL_JOIN_LATERAL_TOPK = """
SELECT n.n_name, t.s_name, t.s_acctbal
FROM nation n JOIN LATERAL (
    SELECT s_name, s_acctbal FROM supplier s
    WHERE s.s_nationkey = n.n_nationkey
    ORDER BY s_acctbal DESC, s_name ASC LIMIT 2
) t ON true
"""


def q_events_crosstab_chi2_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contingency table of event_type x hour-of-day with per-cell
    chi-square machinery: observed count, expected count r*c/g, and the
    cell's chi-square contribution (obs*g - r*c)^2 / (g*r*c). Marginals
    come from exact window sums over the cell relation; the only
    floating-point work is one cast + multiply + divide per cell."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type", F.hour("ts").alias("event_hour")
    ).agg(F.count("*").alias("obs"))
    wr = Window.partitionBy("event_type")
    wc = Window.partitionBy("event_hour")
    wg = Window.partitionBy()
    with_marg = cells.select(
        "event_type",
        "event_hour",
        "obs",
        F.sum("obs").over(wr).alias("row_total"),
        F.sum("obs").over(wc).alias("col_total"),
        F.sum("obs").over(wg).alias("grand_total"),
    )
    # Exact integer micro-units via DECIMAL intermediates (DuckDB twin
    # uses HUGEINT): expected and chi2_contrib are pure integer ratios,
    # so round(double, 6) is the cross-engine midpoint landmine
    # (NOTES.md pitfalls). Bound: diff can reach ~N^2/4, so diff^2 * 1e6
    # ~ N^4 * 1e6 / 16 stays under DECIMAL(38)/HUGEINT up to N ~ 1e8
    # total events — about where the old double form's exactness cliff
    # sat anyway (diff^2 passes 2^53 near N ~ 2e8); past that, shard the
    # contingency analysis or drop to a scaled ratio.
    return with_marg.selectExpr(
        "event_type",
        "event_hour",
        "obs",
        "row_total",
        "col_total",
        "grand_total",
        "CAST(CAST(row_total AS DECIMAL(38,0)) * col_total * 1000000"
        " div grand_total AS DOUBLE) / 1000000 AS expected",
        "CAST((CAST(obs AS DECIMAL(38,0)) * grand_total"
        "      - CAST(row_total AS DECIMAL(38,0)) * col_total)"
        "     * (CAST(obs AS DECIMAL(38,0)) * grand_total"
        "        - CAST(row_total AS DECIMAL(38,0)) * col_total)"
        "     * 1000000"
        " div (CAST(grand_total AS DECIMAL(38,0)) * row_total * col_total)"
        " AS DOUBLE) / 1000000 AS chi2_contrib",
    )


SQL_EVENTS_CROSSTAB_CHI2_CELLS = """
WITH cells AS (
    SELECT event_type, hour(ts) AS event_hour, CAST(count(*) AS BIGINT) AS obs
    FROM events GROUP BY 1, 2
),
marg AS (
    SELECT event_type, event_hour, obs,
           CAST(sum(obs) OVER (PARTITION BY event_type) AS BIGINT) AS row_total,
           CAST(sum(obs) OVER (PARTITION BY event_hour) AS BIGINT) AS col_total,
           CAST(sum(obs) OVER () AS BIGINT) AS grand_total
    FROM cells
)
SELECT event_type, event_hour, obs, row_total, col_total, grand_total,
       CAST(CAST(row_total AS HUGEINT) * col_total * 1000000
            // grand_total AS DOUBLE) / 1000000 AS expected,
       CAST((CAST(obs AS HUGEINT) * grand_total
             - CAST(row_total AS HUGEINT) * col_total)
            * (CAST(obs AS HUGEINT) * grand_total
               - CAST(row_total AS HUGEINT) * col_total)
            * 1000000
            // (CAST(grand_total AS HUGEINT) * row_total * col_total)
            AS DOUBLE) / 1000000 AS chi2_contrib
FROM marg
"""


QUERIES = {
    "inverted_index": (q_inverted_index, SQL_INVERTED_INDEX),
    "join_lateral_topk": (q_join_lateral_topk, SQL_JOIN_LATERAL_TOPK),
    "events_crosstab_chi2_cells": (
        q_events_crosstab_chi2_cells,
        SQL_EVENTS_CROSSTAB_CHI2_CELLS,
    ),
}
