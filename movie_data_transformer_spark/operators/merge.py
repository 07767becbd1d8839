"""Stateful merge / upsert — reference op 9 (+ ops 10-11 pairwise form).

Reference: saveToMemoryDB (DataTransformationService.java:169-204) does a
per-customer GET -> mergeCustomerMovies -> SET against Redis. The merge
resolves per (customerId, movieId) with isMoreRecent(new, existing)
(:240-250):

    new wins  IFF  both dates parse as yyyy-MM-dd AND new.date is
                   STRICTLY after existing.date
    otherwise existing wins (equal dates -> existing; EITHER side
    unparseable -> existing; :245-249)

The reference's read-modify-write is non-atomic and serial per key
(SURVEY.md §4.2). Here the merge is a single distributed full-outer join —
one shuffle per side, snapshot-consistent, no per-key round-trips; on a
real deployment this is exactly a Delta `MERGE INTO state USING batch`.
At 100 TB: bucket/cluster the state table by (customerId, movieId) so the
join co-locates without re-shuffling state each batch.

Both sides are deduped first (the engine's uniform-dedup divergence,
SURVEY.md §2.2 item 4 — the reference's intra-batch duplicate retention is
batch-partitioning-dependent and not deterministically reproducible).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from movie_data_transformer_spark.operators.movie_pipeline import (
    dedup_latest,
    explode_watched,
    group_watched,
    kv_serialize,
)
from movie_data_transformer_spark.schemas import CUSTOMER_MOVIE

FLAT_COLS = ["movieId", "title", "yearOfRelease", "customerId", "rating", "date"]


def merge_flat(
    state: DataFrame,
    batch: DataFrame,
    with_decision: bool = False,
) -> DataFrame:
    """Merge new flat rating rows into flat state rows.

    Pairwise resolution per (customerId, movieId), exactly the reference's
    isMoreRecent policy (strict-after; any parse failure keeps existing).

    with_decision=True appends a `_decision` marker column
    ('insert'|'update'|'keep') for the op-16 pipeline counters
    (operators/metrics.py) — the taxonomy of the reference's
    newCount/updateCount/successCount (DataTransformationService.java:170-172).
    """
    s = dedup_latest(state).select([F.col(c).alias(f"s_{c}") for c in FLAT_COLS])
    b = dedup_latest(batch).select([F.col(c).alias(f"b_{c}") for c in FLAT_COLS])
    joined = s.join(
        b,
        (s["s_customerId"] == b["b_customerId"]) & (s["s_movieId"] == b["b_movieId"]),
        "full_outer",
    )
    s_date = F.expr("try_to_date(s_date, 'yyyy-MM-dd')")
    b_date = F.expr("try_to_date(b_date, 'yyyy-MM-dd')")
    # new (batch) wins only on: no existing row, OR both dates parse and
    # batch is strictly more recent (DataTransformationService.java:245-249)
    is_insert = F.col("s_customerId").isNull()
    is_update = s_date.isNotNull() & b_date.isNotNull() & (b_date > s_date)
    new_wins = is_insert | is_update
    cols = [
        F.when(new_wins, F.col(f"b_{c}")).otherwise(F.col(f"s_{c}")).alias(c)
        for c in FLAT_COLS
    ]
    if with_decision:
        cols.append(
            F.when(is_insert, "insert")
            .when(is_update, "update")
            .otherwise("keep")
            .alias("_decision")
        )
    return joined.select(*cols)


def parse_kv_state(kv: DataFrame) -> DataFrame:
    """Inverse of kv_serialize: ('customer:{id}', json blob) -> flat rows.
    This is the 'GET existing value and deserialize' side of the reference's
    merge (DataTransformationService.java:180-185)."""
    parsed = kv.select(F.from_json("value", CUSTOMER_MOVIE).alias("cm"))
    return parsed.select(
        F.col("cm.customerId").alias("customerId"),
        F.explode("cm.watchedMovies").alias("m"),
    ).select(
        F.col("m.movieId").alias("movieId"),
        F.col("m.title").alias("title"),
        F.col("m.yearOfRelease").alias("yearOfRelease"),
        "customerId",
        F.col("m.rating").alias("rating"),
        F.col("m.date").alias("date"),
    )


def merge_kv(state_kv: DataFrame, batch_movies: DataFrame) -> DataFrame:
    """Full op-9 round trip in the sink representation: deserialize prior
    KV state, merge a new nested-movies batch, re-group, re-serialize.
    Equivalent of one whole saveToMemoryDB pass (:169-204), as one job."""
    state_flat = parse_kv_state(state_kv)
    batch_flat = explode_watched(batch_movies)
    return kv_serialize(group_watched(merge_flat(state_flat, batch_flat)))
