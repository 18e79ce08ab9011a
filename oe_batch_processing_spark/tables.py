"""Testdata table loaders.

The driver generates a TPC-H-ish star schema plus ``events`` / ``documents`` /
``embeddings`` as one parquet file per table (TESTDATA.md). Everything here is
a plain ``spark.read.parquet`` — explicit schema is unnecessary because parquet
footers carry it, and Catalyst gets column pruning + predicate pushdown on the
scan for free.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any scale factor; used by query
# recipes to hint `broadcast()` so the fact side never shuffles for these joins.
BROADCAST_DIMS = frozenset({"region", "nation", "supplier", "part", "customer"})


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def table_row_count(sf_dir: str, name: str) -> int:
    """Exact row count of a testdata table from parquet FOOTER metadata.

    The collapse gates (``*_REP_MIN_N``) only need ``n`` to pick a plan;
    running ``df.count()`` for that fires a real Spark job per invocation
    and makes operator construction eager (plan-only tooling pays it too).
    Parquet footers carry the exact row count, so the gate decision is
    metadata-only and the operator body stays lazy. Handles both the
    driver's single-file tables and Spark-written directory datasets
    (sums part-file footers). Cached per (realpath, mtime) so repeated
    gate checks within a session cost nothing; an rewritten temp dataset
    (new mtime) re-reads.
    """
    path = os.path.realpath(table_path(sf_dir, name))
    return _footer_row_count(path, os.stat(path).st_mtime_ns)


@functools.lru_cache(maxsize=256)
def _footer_row_count(path: str, _mtime_ns: int) -> int:
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        total = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    total += pq.ParquetFile(
                        os.path.join(root, f)
                    ).metadata.num_rows
        return total
    return pq.ParquetFile(path).metadata.num_rows


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events":
        # events.parquet stores ts as parquet TIMESTAMP(NANOS). How Spark
        # surfaces that depends on version: <=3.x with nanosAsLong reads it
        # as int64 nanos; 4.1+ ignores that conf and reads TIMESTAMP_NTZ.
        # Normalize both to a microsecond TimestampType column, same name.
        # The session timezone is pinned UTC (registry._RUNTIME_CONFS), so
        # the NTZ->LTZ cast is value-exact; sub-microsecond truncation is
        # irrelevant to every windowing op.
        for f in df.schema.fields:
            if f.name != "ts":
                continue
            kind = f.dataType.simpleString()
            if kind == "bigint":
                df = df.withColumn(
                    "ts", F.timestamp_micros(F.expr("ts div 1000"))
                )
            elif kind == "timestamp_ntz":
                df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so recipes can use spark.sql."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def persist_once(df: DataFrame) -> DataFrame:
    """Persist ``df`` unless an identical plan is already cached.

    Several operators persist structurally identical sub-plans (the
    exact-content ``groups`` aggregate shared by the jaccard and
    containment rewrites, the quantized-vector projections shared across
    the ANN family, the shingle arrays shared by the MinHash/tiered
    pipelines). Spark's CacheManager already dedups these by analyzed
    plan — the second ``.persist()`` reuses the first cache — but it logs
    ``WARN CacheManager: Asked to cache already cached data`` per hit,
    which buries real cache-policy bugs in sweep logs. ``df.storageLevel``
    performs the same CacheManager plan lookup without side effects, so
    this helper keeps the logs clean with identical semantics: the frame
    is cached after the call either way.
    """
    lvl = df.storageLevel
    if lvl.useMemory or lvl.useDisk:
        return df
    return df.persist()


@contextmanager
def cached(df: DataFrame) -> Iterator[DataFrame]:
    """Keep ``df`` cached for the ``with`` body; on exit release the cache
    only if this call created it. When another operator (or the caller)
    already cached the same plan, that cache is left in place: evicting it
    would make its owner recompute the plan."""
    lvl = df.storageLevel
    owned = not (lvl.useMemory or lvl.useDisk)
    if owned:
        df = df.persist()
    try:
        yield df
    finally:
        if owned:
            df.unpersist()
