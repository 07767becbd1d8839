"""Round-6 spatial extension: the GRID-BUCKETED spatial join — how a
distributed engine joins points to regions at 100 TB. Neither side can
broadcast and the predicate (containment) is not an equi-join, so the
standard decomposition applies: tile space into fixed cells, explode
each region onto every cell it covers, map each point to its single
cell, equi-join on cell, then verify exact containment row-locally.
Every (region, point) result appears exactly once because a point owns
exactly one cell — no post-join dedup.

Geometry is synthesized deterministically (portable md5 hash -> integer
coordinates in a 1000 x 1000 space; one box per nation, one point per
event), so the entry is self-contained on the driver tables and the
ORACLE is the naive containment join (25 boxes x all points, BETWEEN) —
result equality binds the grid decomposition itself: a wrong cell span,
an off-by-one at a cell boundary, or a dropped border cell changes the
counts.

Scale: the exploded box-cell table is |regions| x avg cells (tiny);
points shuffle once on cell (or not at all with the boxes-broadcast
variant AQE picks here); verify is row-local. CELL = 100 -> 10 x 10
grid; boxes span <= 2 cells per axis by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from movie_data_transformer_spark.operators.text import PORTABLE_HASH_SPARK_SQL
from movie_data_transformer_spark.sources.tables import load_table

CELL = 100
SPACE = 1000

# integer geometry formulas shared verbatim by both engines (md5-hash
# coordinates; box width/height 20..96 so a box covers 1-2 cells/axis)
_PH = "CAST('0x' || substr(md5({x}), 1, 8) AS BIGINT)"  # DuckDB spelling


def _geom_sql(ph: str, div: str) -> dict[str, str]:
    px = ph.format(x="concat('px:', CAST(event_id AS STRING))")
    py = ph.format(x="concat('py:', CAST(event_id AS STRING))")
    bx = ph.format(x="concat('bx:', CAST(n_nationkey AS STRING))")
    by = ph.format(x="concat('by:', CAST(n_nationkey AS STRING))")
    return {
        "px": f"({px}) % {SPACE}",
        "py": f"({py}) % {SPACE}",
        "x0": f"({bx}) % {SPACE - 100}",
        "y0": f"({by}) % {SPACE - 100}",
        "w": f"20 + (n_nationkey * 7) % 77",
        "h": f"20 + (n_nationkey * 11) % 77",
        "div": div,
    }


def q_join_points_in_boxes_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _geom_sql(PORTABLE_HASH_SPARK_SQL, "DIV")
    load_table(spark, sf_dir, "events").createOrReplaceTempView("_geo_events")
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("_geo_nation")
    return spark.sql(
        f"""
        WITH points AS (
            SELECT event_id, {g['px']} AS px, {g['py']} AS py
            FROM _geo_events
        ),
        boxes AS (
            SELECT n_nationkey, n_name,
                   {g['x0']} AS x0, {g['y0']} AS y0,
                   {g['x0']} + {g['w']} AS x1, {g['y0']} + {g['h']} AS y1
            FROM _geo_nation
        ),
        box_cells AS (
            SELECT n_nationkey, n_name, x0, y0, x1, y1, cx, cy
            FROM boxes
            LATERAL VIEW explode(sequence(x0 {g['div']} {CELL},
                                          x1 {g['div']} {CELL})) t1 AS cx
            LATERAL VIEW explode(sequence(y0 {g['div']} {CELL},
                                          y1 {g['div']} {CELL})) t2 AS cy
        ),
        hits AS (
            SELECT b.n_name
            FROM points p
            JOIN box_cells b
              ON b.cx = p.px {g['div']} {CELL} AND b.cy = p.py {g['div']} {CELL}
            WHERE p.px BETWEEN b.x0 AND b.x1
              AND p.py BETWEEN b.y0 AND b.y1
        )
        SELECT n_name, CAST(count(*) AS BIGINT) AS n_points
        FROM hits GROUP BY n_name
        """
    )


def _oracle_sql() -> str:
    g = _geom_sql(_PH, "//")
    return f"""
WITH points AS (
    SELECT event_id, {g['px']} AS px, {g['py']} AS py FROM events
),
boxes AS (
    SELECT n_nationkey, n_name,
           {g['x0']} AS x0, {g['y0']} AS y0,
           {g['x0']} + {g['w']} AS x1, {g['y0']} + {g['h']} AS y1
    FROM nation
)
SELECT b.n_name, CAST(count(*) AS BIGINT) AS n_points
FROM points p JOIN boxes b
  ON p.px BETWEEN b.x0 AND b.x1 AND p.py BETWEEN b.y0 AND b.y1
GROUP BY b.n_name
"""


QUERIES = {
    "join_points_in_boxes_grid": (q_join_points_in_boxes_grid, _oracle_sql()),
}
