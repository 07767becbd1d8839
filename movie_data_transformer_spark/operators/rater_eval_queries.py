"""Multi-rater / paired-classifier agreement statistics — the round-8
extension of the eval family (classifier_kappa, macro-F1, confusion,
chi2): before a curation team swaps one quality gate for another, the
two operational questions are "do the gates disagree SYMMETRICALLY?"
(McNemar) and "do ALL the gates agree beyond chance?" (Fleiss kappa,
the >2-rater generalization of the Cohen kappa already shipped).

Raters are the deterministic gates the pipeline already computes over
`documents` (the classifier_kappa fixtures, ml_extras_queries.py):
  r1 = token-count gate        (n_tokens >= 30)
  r2 = type-token-ratio gate   (ttr >= 0.2)
  r3 = hashed-linear classifier (md5-bucket logit sum >= 0)

Entries (both FULL DuckDB oracles, exact bigint rationals in micro
units — the classifier_kappa discipline: signed integer division
truncates toward zero identically in Spark `DIV` and DuckDB `//`):

- `stats_mcnemar_exact`: the paired 2x2 disagreement table between the
  rule gate (r1 AND r2) and the classifier gate (r3): discordant counts
  b (rule-only keep) and c (clf-only keep), the McNemar statistic
  (b-c)^2/(b+c) and its Edwards continuity-corrected form
  (|b-c|-1)^2/(b+c), both exact micro. (McNemar 1947 — tests marginal
  homogeneity of paired binary decisions; no gold labels needed.)
- `stats_fleiss_kappa`: Fleiss 1971 kappa over m=3 raters x 2
  categories. With k_i = keep-votes on doc i, S = sum_i (k_i^2 +
  (m-k_i)^2), C1 = sum_i k_i, C0 = n*m - C1, E = C1^2 + C0^2:
      P_bar  = (S - n*m) / (n*m*(m-1))
      Pe_bar = E / (n*m)^2
      kappa  = ((S - n*m)*n*m - E*(m-1)) / ((m-1)*((n*m)^2 - E))
  (the common-denominator form divided through by n*m so every product
  stays bigint-safe below ~3e6 docs; beyond that, recompute the micro
  scaling in decimal — noted here because the naive (n*m)^2-scaled form
  overflows ~30x sooner).

Scale: one documents scan, three map-side gate projections fused into
one select, a single 1-row aggregate — no joins, no per-rater shuffle.
At 100 TB this is scan-bound, exactly like classifier_kappa.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_data_transformer_spark.operators.text import HASHED_LOGIT_SPARK_SQL, TOKENS_SPARK_SQL
from movie_data_transformer_spark.sources.tables import load_table

M_RATERS = 3

#: one fused projection: every gate from one tokenization pass
_TOKS = TOKENS_SPARK_SQL.format(x="text")
_FLAGS_SELECT = [
    f"size({_TOKS}) >= 30 AS r1",
    f"CAST(size(array_distinct({_TOKS})) * 1000000L"
    f" div size({_TOKS}) AS DOUBLE) / 1000000 >= 0.2 AS r2",
    f"{HASHED_LOGIT_SPARK_SQL.format(t=_TOKS)} >= 0 AS r3",
]

#: DuckDB twin of _FLAGS_SELECT
_FLAGS_CTE = r"""
toks AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
),
flags AS (
    SELECT doc_id,
           len(t) >= 30 AS r1,
           CAST(CAST(len(list_distinct(t)) AS BIGINT) * 1000000 // len(t)
                AS DOUBLE) / 1000000 >= 0.2 AS r2,
           CAST(list_sum(list_transform(t, x ->
                (CAST('0x' || substr(md5(x), 1, 8) AS BIGINT) % 2001) - 1000))
               AS BIGINT) >= 0 AS r3
    FROM toks
)"""


def _flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents").selectExpr(
        "doc_id", *_FLAGS_SELECT
    )


def q_stats_mcnemar_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells = _flags(spark, sf_dir).selectExpr(
        "CAST(r1 AND r2 AS INT) AS rule", "CAST(r3 AS INT) AS clf"
    ).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.expr("IF(rule = 1 AND clf = 0, 1, 0)")).cast("bigint").alias("b"),
        F.sum(F.expr("IF(rule = 0 AND clf = 1, 1, 0)")).cast("bigint").alias("c"),
    )
    return cells.selectExpr(
        "n_docs",
        "b AS n_rule_only",
        "c AS n_clf_only",
        "CASE WHEN b + c = 0 THEN 0L ELSE"
        " CAST((b - c) * (b - c) * 1000000 DIV (b + c) AS BIGINT)"
        " END AS mcnemar_micro",
        "CASE WHEN b + c = 0 OR abs(b - c) <= 1 THEN 0L ELSE"
        " CAST((abs(b - c) - 1) * (abs(b - c) - 1) * 1000000 DIV (b + c)"
        " AS BIGINT) END AS mcnemar_cc_micro",
    )


SQL_STATS_MCNEMAR_EXACT = f"""
WITH {_FLAGS_CTE},
cells AS (
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER ((r1 AND r2) AND NOT r3) AS BIGINT) AS b,
           CAST(count(*) FILTER (NOT (r1 AND r2) AND r3) AS BIGINT) AS c
    FROM flags
)
SELECT n_docs,
       b AS n_rule_only,
       c AS n_clf_only,
       CASE WHEN b + c = 0 THEN CAST(0 AS BIGINT) ELSE
            CAST((b - c) * (b - c) * 1000000 // (b + c) AS BIGINT)
       END AS mcnemar_micro,
       CASE WHEN b + c = 0 OR abs(b - c) <= 1 THEN CAST(0 AS BIGINT) ELSE
            CAST((abs(b - c) - 1) * (abs(b - c) - 1) * 1000000 // (b + c)
                 AS BIGINT)
       END AS mcnemar_cc_micro
FROM cells
"""


def q_stats_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = M_RATERS
    votes = _flags(spark, sf_dir).selectExpr(
        "CAST(r1 AS INT) + CAST(r2 AS INT) + CAST(r3 AS INT) AS k"
    )
    agg = votes.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.expr(f"k * k + ({m} - k) * ({m} - k)")).cast("bigint").alias("s"),
        F.sum("k").cast("bigint").alias("c1"),
    )
    return agg.selectExpr(
        "n_docs",
        f"CAST({m} AS BIGINT) AS m_raters",
        "c1 AS n_keep_votes",
        f"CAST((s - n_docs * {m}) * 1000000"
        f" DIV (n_docs * {m} * ({m} - 1)) AS BIGINT) AS pbar_micro",
        f"CAST((c1 * c1 + (n_docs * {m} - c1) * (n_docs * {m} - c1)) * 1000000"
        f" DIV ((n_docs * {m}) * (n_docs * {m})) AS BIGINT) AS pe_micro",
        f"CAST(((s - n_docs * {m}) * n_docs * {m}"
        f" - (c1 * c1 + (n_docs * {m} - c1) * (n_docs * {m} - c1)) * ({m} - 1))"
        f" * 1000000"
        f" DIV (({m} - 1) * ((n_docs * {m}) * (n_docs * {m})"
        f" - (c1 * c1 + (n_docs * {m} - c1) * (n_docs * {m} - c1))))"
        f" AS BIGINT) AS fleiss_kappa_micro",
    )


SQL_STATS_FLEISS_KAPPA = f"""
WITH {_FLAGS_CTE},
votes AS (
    SELECT CAST(r1 AS INT) + CAST(r2 AS INT) + CAST(r3 AS INT) AS k FROM flags
),
agg AS (
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(k * k + ({M_RATERS} - k) * ({M_RATERS} - k)) AS BIGINT) AS s,
           CAST(sum(k) AS BIGINT) AS c1
    FROM votes
)
SELECT n_docs,
       CAST({M_RATERS} AS BIGINT) AS m_raters,
       c1 AS n_keep_votes,
       CAST((s - n_docs * {M_RATERS}) * 1000000
            // (n_docs * {M_RATERS} * ({M_RATERS} - 1)) AS BIGINT) AS pbar_micro,
       CAST((c1 * c1 + (n_docs * {M_RATERS} - c1) * (n_docs * {M_RATERS} - c1))
            * 1000000
            // ((n_docs * {M_RATERS}) * (n_docs * {M_RATERS})) AS BIGINT)
           AS pe_micro,
       CAST(((s - n_docs * {M_RATERS}) * n_docs * {M_RATERS}
             - (c1 * c1 + (n_docs * {M_RATERS} - c1)
                * (n_docs * {M_RATERS} - c1)) * ({M_RATERS} - 1))
            * 1000000
            // (({M_RATERS} - 1) * ((n_docs * {M_RATERS}) * (n_docs * {M_RATERS})
                - (c1 * c1 + (n_docs * {M_RATERS} - c1)
                   * (n_docs * {M_RATERS} - c1))))
            AS BIGINT) AS fleiss_kappa_micro
FROM agg
"""


QUERIES = {
    "stats_mcnemar_exact": (q_stats_mcnemar_exact, SQL_STATS_MCNEMAR_EXACT),
    "stats_fleiss_kappa": (q_stats_fleiss_kappa, SQL_STATS_FLEISS_KAPPA),
}
