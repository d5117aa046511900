"""Parquet source/sink — S3/S4/S5 in SURVEY.md §2.1.

The reference's lake is one parquet file per table (plus one per
order-month, scripts/esplosione_dati.py:144-191). At 100 TB the same
layout becomes directory-per-table with explicit partition columns, so
the writer here exposes ``partition_by`` and the reader accepts globs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan (glob-capable). Column pruning and predicate pushdown
    are delegated to Catalyst — callers should ``select``/``filter`` on
    the returned frame and let the optimizer reach the scan."""
    return spark.read.parquet(path)


def read_parquet_merged(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan with schema evolution: union the footers' schemas
    (``mergeSchema``) so files written before a column was added read
    as NULL in that column instead of failing. Costs one footer read
    per file at planning time — enable only on tables that actually
    evolved; steady-state tables should pin a read schema."""
    return spark.read.option("mergeSchema", "true").parquet(path)


def normalize_nanos(df: DataFrame, col: str) -> DataFrame:
    """Convert a nanos-since-epoch long (parquet TIMESTAMP(NANOS) read
    under ``spark.sql.legacy.parquet.nanosAsLong``) to TimestampType.

    ``DIV 1000`` is exact integer division — a double round-trip would
    lose sub-microsecond precision at 2024-era epochs (>2^53 ns).
    Matches DuckDB's ns→µs truncation.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    if isinstance(df.schema[col].dataType, LongType):
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} DIV 1000")))
    return df


def read_testdata(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Load one driver-generated table from an sf directory."""
    df = spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))
    if table == "events":
        df = normalize_nanos(df, "ts")
    return df


_CONFS_PINNED: set[str] = set()


def _ensure_session_confs(spark: SparkSession) -> None:
    """Pin the runtime-settable confs the testdata semantics depend on,
    for sessions not built by ``session.get_spark``: nanos-parquet reads
    (events table) and UTC time semantics (dayname/period vs the DuckDB
    oracle). Pinned once per application: each conf.set is a py4j round
    trip, and this runs on every load() call."""
    app = spark.sparkContext.applicationId
    if app in _CONFS_PINNED:
        return
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    _CONFS_PINNED.add(app)


# Session-memoized base-table RELATIONS: every `spark.read.parquet(path)`
# call costs ~100 ms of single-threaded driver work (file listing +
# footer schema inference) before any action runs, and the query
# registry calls load() hundreds of times for immutable inputs.
# Memoizing the LAZY frame is plan reuse, not result caching — every
# action still scans the parquet files; only the relation construction
# (schema/footer) is shared, exactly what `spark.table` does through a
# catalog entry on a real lake.
_TABLE_FRAMES: dict[tuple[str, str, str], DataFrame] = {}


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Memoized :func:`read_testdata`, one relation per (application,
    sf_dir, table).

    IMMUTABILITY ASSUMPTION: the memoized relation snapshots the table's
    file listing + schema at first load; a caller that rewrites an
    input dir mid-session must call ``_TABLE_FRAMES.clear()`` (or use a
    fresh SparkSession) or the cached frame will reference
    stale/deleted files."""
    _ensure_session_confs(spark)
    key = (spark.sparkContext.applicationId, sf_dir, table)
    df = _TABLE_FRAMES.get(key)
    if df is None:
        df = read_testdata(spark, sf_dir, table)
        _TABLE_FRAMES[key] = df
    return df


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Parquet sink (the reference's universal CTAS materialization, S5).

    ``partition_by`` maps the reference's one-file-per-month layout to a
    partitioned directory that Catalyst can partition-prune at read time.
    """
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
