"""Document-cleaning TRANSFORMS (the counterparts of the measuring ops).

Three stages of the classic pre-training cleaning cascade:

- `text_collapse_repeats`: within-document immediate-repeat collapse
  (C4/Gopher style), a zero-shuffle projection.
- `text_line_dedup_boilerplate`: CROSS-document line deduplication
  (CCNet / RefinedWeb style) — lines that recur across many documents
  are boilerplate (headers, nav bars, cookie banners) and are removed
  from every document while document-unique lines survive. The corpus
  has no newlines, so "lines" are derived identically on both engines
  as fixed 12-token chunks, and a known boilerplate line is planted on
  every doc_id % 3 == 0 document so the removal is observable and the
  oracle binds it exactly.
- `text_c4_line_filters`: C4's line-level keep rules + document-level
  drop rule (Raffel et al. 2020, §2.2) adapted to the token corpus:
  a "line" ends at each 'the' (the corpus has no terminal punctuation,
  so the most frequent stopword stands in for the sentence terminator),
  a line is kept iff it has >= 5 tokens and no banned token ('slow'
  plays the badword-list role), and a document survives iff >= 2 lines
  were kept. Emits the cleaned-text md5 so the oracle binds the full
  reassembled text, not just counts.

Every entry emits a clean_md5 fingerprint: a wrong index base, an
off-by-one in a window frame, or a join-order slip changes the hash.

Scale: collapse_repeats fuses into the scan (zero shuffles).
line_dedup is the canonical boilerplate-removal shape at 100 TB — one
explode, one groupBy(line) for document frequencies (partial-agg
combine does the heavy lifting: boilerplate lines collapse map-side),
one join back, one per-doc re-aggregation. c4_line_filters is a single
shuffle: the doc_id window partitioning is reused by BOTH downstream
groupBys ((doc_id, line_id) and doc_id are satisfied by
HashPartitioning(doc_id) — verified no extra exchange in the plan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from movie_data_transformer_spark.operators.text import TOKENS_SPARK_SQL
from movie_data_transformer_spark.sources.tables import load_table


def q_text_collapse_repeats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.selectExpr(
        "doc_id",
        f"{TOKENS_SPARK_SQL.format(x='text')} AS t",
    ).selectExpr(
        "doc_id",
        "CAST(size(t) AS BIGINT) AS n_tokens_before",
        # keep position 0 and every token differing from its predecessor
        "CAST(size(filter(t, (x, i) -> i = 0 OR x != t[i - 1])) AS BIGINT)"
        " AS n_tokens_after",
        "md5(concat_ws(' ', filter(t, (x, i) -> i = 0 OR x != t[i - 1])))"
        " AS clean_md5",
    )


SQL_TEXT_COLLAPSE_REPEATS = r"""
WITH toks AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
),
u AS (
    SELECT doc_id, unnest(t) AS x, generate_subscripts(t, 1) AS i FROM toks
),
kept AS (
    SELECT doc_id, x, i,
           lag(x) OVER (PARTITION BY doc_id ORDER BY i) AS prev
    FROM u
),
clean AS (
    SELECT doc_id, string_agg(x, ' ' ORDER BY i) AS s, count(*) AS n_after
    FROM kept WHERE prev IS NULL OR x <> prev
    GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(t.t) AS BIGINT) AS n_tokens_before,
       CAST(c.n_after AS BIGINT) AS n_tokens_after,
       md5(c.s) AS clean_md5
FROM toks t JOIN clean c ON t.doc_id = c.doc_id
"""


# The planted boilerplate line (12 tokens, like every derived chunk) and
# the document-frequency threshold above which a line is boilerplate.
# Literals shared verbatim by the Spark query and the DuckDB oracle.
BOILERPLATE_LINE = "click here to subscribe to our newsletter and continue reading now today"
LINE_TOKENS = 12
BOILERPLATE_DF = 5


def q_text_line_dedup_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document line dedup: derive 12-token lines, plant the
    boilerplate header on doc_id % 3 == 0, drop every line whose
    document frequency reaches BOILERPLATE_DF, reassemble in order."""
    from pyspark.sql import functions as F

    from movie_data_transformer_spark.operators.dedup import widen_for_compute

    # the tokenize+chunk transform runs before the first exchange — widen
    # the one-row-group scan so it runs at core parallelism (r12 opt
    # round; no-op on an already-wide cluster scan)
    docs = widen_for_compute(load_table(spark, sf_dir, "documents"))
    chunks = (
        docs.selectExpr("doc_id", f"{TOKENS_SPARK_SQL.format(x='text')} AS t")
        .selectExpr(
            "doc_id",
            # named_struct keeps (index, line) together so the final
            # reassembly can sort by the original position.
            "transform(sequence(0, CAST((size(t) + {L} - 1) DIV {L} AS INT) - 1),"
            " i -> named_struct('i', CAST(i AS BIGINT),"
            "                   'line', concat_ws(' ', slice(t, i * {L} + 1, {L})))) AS cs".format(
                L=LINE_TOKENS
            ),
        )
        .selectExpr(
            "doc_id",
            # planted boilerplate: a header line at position -1 on every
            # third document (same literal in the oracle).
            "CASE WHEN doc_id % 3 = 0"
            " THEN concat(array(named_struct('i', CAST(-1 AS BIGINT), 'line', '{B}')), cs)"
            " ELSE cs END AS cs".format(B=BOILERPLATE_LINE),
        )
        .select("doc_id", F.explode("cs").alias("c"))
        .select("doc_id", F.col("c.i").alias("i"), F.col("c.line").alias("line"))
    )
    # count document frequency on a 64-bit line digest and join back on
    # the digest: both shuffles then carry 8-byte keys instead of the
    # line text (guide §2.3, "shuffle keys and metadata instead of
    # payloads"); the kept/dropped decision and every output column are
    # unchanged (oracle re-verified after the rewrite).
    # DOCUMENTED DIVERGENCE vs exact line equality (r12 ADVICE low #1):
    # two distinct lines colliding on xxhash64 would merge their DF
    # counts; at 64 bits the birthday bound puts that near ~billions of
    # distinct lines, far beyond the corpus contract, and the oracle
    # (which groups on text) stays green at every tested SF.
    chunks = chunks.withColumn("_line_key", F.xxhash64("line"))
    line_df = chunks.groupBy("_line_key").agg(
        F.count_distinct("doc_id").alias("line_df")
    )
    j = chunks.join(line_df, "_line_key")
    kept = F.col("line_df") < BOILERPLATE_DF
    return j.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_lines_before"),
        F.count(F.when(kept, 1)).cast("bigint").alias("n_lines_after"),
        F.md5(
            F.concat_ws(
                " ",
                F.expr(
                    "transform(sort_array(collect_list(CASE WHEN line_df < {DF}"
                    " THEN struct(i, line) END)), s -> s.line)".format(
                        DF=BOILERPLATE_DF
                    )
                ),
            )
        ).alias("clean_md5"),
    )


def q_text_c4_line_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line filters: lines end at 'the', keep lines with >= 5 tokens
    and no 'slow', keep documents with >= 2 surviving lines."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.selectExpr(
        "doc_id", f"posexplode({TOKENS_SPARK_SQL.format(x='text')}) AS (pos, tok)"
    )
    is_term = F.when(F.col("tok") == "the", 1).otherwise(0)
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, 0
    )
    # terminator tokens are excluded from lines; a token's line is the
    # number of terminators strictly before it.
    ln = toks.withColumn(
        "line_id", (F.sum(is_term).over(w) - is_term).cast("bigint")
    ).filter(F.col("tok") != "the")
    lines = ln.groupBy("doc_id", "line_id").agg(
        F.count("*").alias("n_toks"),
        F.max(F.when(F.col("tok") == "slow", 1).otherwise(0)).alias("has_bad"),
        F.concat_ws(
            " ",
            F.expr("transform(sort_array(collect_list(struct(pos, tok))), s -> s.tok)"),
        ).alias("line"),
    )
    kept = (F.col("n_toks") >= 5) & (F.col("has_bad") == 0)
    return (
        lines.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            F.count(F.when(kept, 1)).cast("bigint").alias("n_lines_kept"),
            F.coalesce(F.sum(F.when(kept, F.col("n_toks"))), F.lit(0))
            .cast("bigint")
            .alias("n_tokens_kept"),
            F.md5(
                F.concat_ws(
                    " | ",
                    F.expr(
                        "transform(sort_array(collect_list(CASE WHEN n_toks >= 5"
                        " AND has_bad = 0 THEN struct(line_id, line) END)),"
                        " s -> s.line)"
                    ),
                )
            ).alias("clean_md5"),
        )
        .filter(F.col("n_lines_kept") >= 2)
    )


SQL_TEXT_LINE_DEDUP_BOILERPLATE = r"""
WITH toks AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
),
base AS (
    SELECT doc_id, t, CAST((len(t) + __L__ - 1) // __L__ AS INT) AS n_chunks FROM toks
),
own AS (
    SELECT doc_id, t, unnest(generate_series(0, n_chunks - 1)) AS i FROM base
),
chunks AS (
    SELECT doc_id, CAST(i AS BIGINT) AS i,
           array_to_string(t[(i * __L__ + 1):(i * __L__ + __L__)], ' ') AS line
    FROM own
    UNION ALL
    SELECT doc_id, CAST(-1 AS BIGINT) AS i, '__B__' AS line
    FROM base WHERE doc_id % 3 = 0
),
line_df AS (
    SELECT line, count(DISTINCT doc_id) AS df FROM chunks GROUP BY line
),
j AS (
    SELECT c.doc_id, c.i, c.line, d.df FROM chunks c JOIN line_df d USING (line)
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_lines_before,
       CAST(count(*) FILTER (df < __DF__) AS BIGINT) AS n_lines_after,
       md5(coalesce(string_agg(line, ' ' ORDER BY i) FILTER (df < __DF__), ''))
           AS clean_md5
FROM j GROUP BY doc_id
""".replace("__B__", BOILERPLATE_LINE).replace("__L__", str(LINE_TOKENS)).replace(
    "__DF__", str(BOILERPLATE_DF)
)


SQL_TEXT_C4_LINE_FILTERS = r"""
WITH toks AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
),
u AS (
    SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) AS pos FROM toks
),
ln AS (
    SELECT doc_id, tok, pos,
           CAST(sum(CASE WHEN tok = 'the' THEN 1 ELSE 0 END)
                    OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS UNBOUNDED PRECEDING) AS BIGINT)
           - CASE WHEN tok = 'the' THEN 1 ELSE 0 END AS line_id
    FROM u
),
lines AS (
    SELECT doc_id, line_id,
           count(*) AS n_toks,
           max(CASE WHEN tok = 'slow' THEN 1 ELSE 0 END) AS has_bad,
           string_agg(tok, ' ' ORDER BY pos) AS line
    FROM ln WHERE tok <> 'the'
    GROUP BY doc_id, line_id
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(count(*) FILTER (n_toks >= 5 AND has_bad = 0) AS BIGINT) AS n_lines_kept,
       CAST(coalesce(sum(n_toks) FILTER (n_toks >= 5 AND has_bad = 0), 0) AS BIGINT)
           AS n_tokens_kept,
       md5(coalesce(string_agg(line, ' | ' ORDER BY line_id)
                        FILTER (n_toks >= 5 AND has_bad = 0), '')) AS clean_md5
FROM lines GROUP BY doc_id
HAVING count(*) FILTER (n_toks >= 5 AND has_bad = 0) >= 2
"""


QUERIES = {
    "text_collapse_repeats": (q_text_collapse_repeats, SQL_TEXT_COLLAPSE_REPEATS),
    "text_line_dedup_boilerplate": (
        q_text_line_dedup_boilerplate,
        SQL_TEXT_LINE_DEDUP_BOILERPLATE,
    ),
    "text_c4_line_filters": (q_text_c4_line_filters, SQL_TEXT_C4_LINE_FILTERS),
}
