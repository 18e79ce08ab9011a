"""Line-oriented text-file source (reference O1).

The reference streams a file line-by-line and emits
``{fileName, rec, recId}`` with a 1-based line number
(lib/batchProcessing.js:314-320). Spark equivalent: ``spark.read.text`` plus
line numbering.

Two modes:
  - **exact** (default): deterministic 1-based, contiguous line numbers
    identical to the reference, computed in the JVM. ``recId`` is the
    partition's start line plus the row's offset within its partition
    (both read off ``monotonically_increasing_id``); the start lines are a
    prefix sum of per-partition line counts from one JVM count job per
    multi-partition file. A one-partition file starts at line 1 and needs no
    count job. No line crosses into Python. The counts are taken when
    ``line_scan`` is called, so the file and the split settings
    (``spark.sql.files.*``) must not change before the frame runs.
  - **fast**: ``monotonically_increasing_id`` — unique and increasing within
    each partition but non-contiguous. The right trade at 100 TB when the
    ledger only needs a stable record id, not the literal line number.

CRLF handling: the reference fixtures are CRLF-terminated (SURVEY.md §5);
Spark's text reader splits on ``\n`` leaving a trailing ``\r``, which we strip
(the reference's readline layer does the same).
"""

from __future__ import annotations

from itertools import accumulate

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

RECDATA_SCHEMA = StructType(
    [
        StructField("fileName", StringType(), False),
        StructField("rec", StringType(), True),
        StructField("recId", LongType(), False),
    ]
)


def line_scan(
    spark: SparkSession,
    paths: str | list[str],
    exact_line_numbers: bool = True,
) -> DataFrame:
    """Scan text file(s) into the reference's recData envelope."""
    if isinstance(paths, str):
        paths = [paths]
    if exact_line_numbers:
        frames = [_scan_one_exact(spark, p) for p in paths]
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out
    df = spark.read.text(list(paths))
    return df.select(
        F.input_file_name().alias("fileName"),
        F.regexp_replace(F.col("value"), "\r$", "").alias("rec"),
        (F.monotonically_increasing_id() + 1).alias("recId"),
    )


# monotonically_increasing_id() = partition index << 33 | row offset in partition
_ROW_BITS = 33


def _scan_one_exact(spark: SparkSession, path: str) -> DataFrame:
    # The numbering projects directly over this file's own scan, so the id's
    # partition index is the scan partition the count job grouped by.
    lines = spark.read.text(path)
    row_id = F.col("id")
    if lines.rdd.getNumPartitions() <= 1:
        rec_id = row_id + 1
    else:
        counts = dict(lines.groupBy(F.spark_partition_id()).count().collect())
        # a partition holding no line start is absent from counts: width 0
        widths = [counts.get(p, 0) for p in range(max(counts, default=0))]
        starts = F.lit(list(accumulate(widths, initial=0)))
        start = starts[F.shiftright(row_id, _ROW_BITS)]
        offset = row_id.bitwiseAND(F.lit((1 << _ROW_BITS) - 1))
        rec_id = F.coalesce(start, F.lit(0)) + offset + 1
    return lines.select(
        F.lit(path).alias("fileName"),
        F.expr(r"TRIM(TRAILING '\r' FROM value)").alias("rec"),
        F.monotonically_increasing_id().alias("id"),
    ).select("fileName", "rec", rec_id.alias("recId"))
