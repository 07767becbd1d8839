"""JSONL movie-file source: scan + listing filters + typed decode.

Covers reference ops 1-3 and 15 (SURVEY.md §2.1):
  - op 1  object-store listing with prefix pushdown
          (DataTransformationService.java:78-94) -> Hadoop FS path listing;
          pass the prefix directory as the path and Spark's file index does
          paginated listing natively (and distributed for huge listings).
  - op 2  `.json` suffix filter applied at listing time
          (DataTransformationService.java:88) -> pathGlobFilter, which prunes
          at scan *planning*, before any file is opened.
  - op 3  per-line JSON decode against the fixed schema
          (DataTransformationService.java:131-144) -> Spark's JSON source is
          newline-delimited by default; schema is supplied, never inferred,
          so the scan does a single pass with nested-column pruning.
  - op 15 permissive record-level error handling
          (DataTransformationService.java:141-143): the reference fails the
          whole file on one bad line and retries it; we do strictly better —
          PERMISSIVE mode isolates the bad *line* into `_corrupt_record`
          and keeps the rest of the file.

At 100 TB: listing is metadata-parallel, decode is one task per file split
(`spark.sql.files.maxPartitionBytes` sizes splits), and the whole
decode->explode->project->partial-agg chain fuses into one codegen stage —
the same fusion the reference hand-wrote per file (op 13), minus the
single-JVM ceiling.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from movie_data_transformer_spark.schemas import MOVIE_INPUT

CORRUPT_COL = "_corrupt_record"


def _parse_line(value: str) -> Column:
    """Permissive from_json of one raw line: an undecodable line lands in
    the struct's CORRUPT_COL field instead of failing the scan."""
    schema = StructType(list(MOVIE_INPUT.fields) + [StructField(CORRUPT_COL, StringType())])
    return F.from_json(
        value, schema, {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL}
    )


def read_movies_jsonl(spark: SparkSession, path: str, glob: str = "*.json") -> DataFrame:
    """Read newline-delimited MovieInput JSON under `path`.

    `path` plays the role of the reference's bucket+prefix
    (application.properties:8, prefix `movies/`); `glob` the `.json`
    suffix predicate (DataTransformationService.java:88).

    "Parse what you can, drop bad lines" — the reference's net effect (it
    fails+retries+skips the whole file, DataTransformationService.java:
    124-126; we drop only the bad LINE). DROPMALFORMED does this
    scan-side; it also avoids Spark's restriction on queries that
    reference only the corrupt-record column. corrupt_records() exposes
    the dropped lines.
    """
    return (
        spark.read.schema(MOVIE_INPUT)
        .option("mode", "DROPMALFORMED")
        .option("pathGlobFilter", glob)
        .json(path)
    )


def read_movies_jsonl_skip_bad_files(
    spark: SparkSession, path: str, glob: str = "*.json"
) -> DataFrame:
    """Op 14 — per-file retry-then-skip (DataTransformationService.java:112-129).

    The reference processes file-by-file, retries a failing file up to 3
    times, then skips the WHOLE file. Deterministic corruption never heals
    on retry, so the distributed equivalent is: decode permissively with
    `input_file_name()` attached, derive the (tiny) set of files containing
    at least one undecodable line, and broadcast-anti-join their rows away.
    File-level skip, not line-level drop — valid rows in a bad file are
    lost, exactly the reference's semantics (and unlike op 15's
    DROPMALFORMED, which keeps them).

    At 100 TB: the data side is one scan, never shuffled — the bad-file
    list is bounded by the file count and broadcasts; the anti-join is
    map-side.
    """
    lines = (
        spark.read.option("pathGlobFilter", glob)
        .text(path)
        .select(F.input_file_name().alias("_file"), "value")
    )
    parsed = lines.select("_file", _parse_line("value").alias("r"))
    # A line like a literal `null` (or anything from_json maps to a NULL
    # struct WITHOUT setting the corrupt column) is also a decode failure
    # under the reference's whole-file-fails semantics — without the
    # r IS NULL clause such a line would neither mark the file bad nor be
    # dropped, leaking an all-null phantom row through r.* (ADVICE r3).
    bad_files = (
        parsed.filter(F.col(f"r.{CORRUPT_COL}").isNotNull() | F.col("r").isNull())
        .select("_file")
        .distinct()
    )
    good = parsed.join(F.broadcast(bad_files), "_file", "left_anti")
    return good.select("r.*").drop(CORRUPT_COL)


def corrupt_records(spark: SparkSession, path: str, glob: str = "*.json") -> DataFrame:
    """The complement: raw text of lines that failed to parse (op 14/15
    observability — the reference only logs and skips; we expose them)."""
    # Spark's JSON relation forbids queries that reference only the
    # corrupt-record column, so take the expression route instead: read raw
    # lines with the text source and parse each with from_json carrying a
    # corrupt-record field — malformed lines surface there.
    lines = spark.read.option("pathGlobFilter", glob).text(path)
    parsed = lines.select(_parse_line("value").alias("r"))
    return parsed.filter(F.col(f"r.{CORRUPT_COL}").isNotNull()).select(
        F.col(f"r.{CORRUPT_COL}").alias("raw_line")
    )
