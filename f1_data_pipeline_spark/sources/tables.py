"""Parquet table readers.

Reference analog: the five dimension scans + CSV parses that feed every load
(/root/reference/loaders/base_loader.py:185-204, loaders/__init__.py:32-35).
Here all tables are columnar Parquet read by Spark's vectorized reader, so
predicate pushdown and column pruning come from Catalyst — callers should
`.select`/`.filter` on the returned DataFrame and let the optimizer push.

Single-file split rule: Spark splits a parquet scan by row group, so a
single file written as one row group (every testdata and benchmark table)
scans in one task however many cores there are. `load_table` spreads such a
file over the cores with `repartition(defaultParallelism, <first column>)`
when the path is one file of at least `spark.sql.files.openCostInBytes`
(Spark's own not-worth-splitting size) whose footer, read by pyarrow on the
driver, holds fewer row groups than `defaultParallelism`. The first column
is the table's key. Hash partitioning, not round-robin: round-robin adds a
local sort before the exchange, and hashing on the key lets a later
groupBy or join on that key reuse the partitioning. Only the key is hashed,
so column pruning still reaches the scan; the explicit count keeps AQE from
coalescing the exchange back onto one task. Directories and files that
already split into enough row groups are read as they are.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from f1_data_pipeline_spark.schemas import TESTDATA_TABLES

# Timestamp columns whose on-disk parquet encoding has varied across
# testdata generations: INT64 TIMESTAMP(NANOS) (rounds 1-2) or
# TIMESTAMP(MICROS, isAdjustedToUTC=false) (round 3+). Spark (through 4.x)
# has no nanosecond timestamp type and refuses NANOS columns unless
# spark.sql.legacy.parquet.nanosAsLong=true, which surfaces them as epoch-ns
# longs; we then convert ns → µs with integer division (floor), matching how
# DuckDB's reader coerces the same column — required for oracle parity.
# MICROS/NTZ data needs no conversion, only a wall-clock-preserving cast to
# the engine's TimestampType so the post-load logical schema is stable
# across encodings. load_table dispatches on the SURFACED type, so either
# encoding (or a plain session without the nanos conf) works.
NANO_TS_COLUMNS: dict[str, tuple[str, ...]] = {
    "events": ("ts",),
}


def _ensure_nanos_conf(spark: SparkSession) -> None:
    if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def _split_count(spark: SparkSession, path: str) -> int:
    """Partitions to spread the single file `path` over, 0 to read it as
    it is (the split rule in the module docstring)."""
    if not os.path.isfile(path):
        return 0
    conf = spark._jsparkSession.sessionState().conf()
    if os.path.getsize(path) < conf.filesOpenCostInBytes():
        return 0
    import pyarrow.parquet as pq

    cores = spark.sparkContext.defaultParallelism
    return cores if pq.read_metadata(path).num_row_groups < cores else 0


# Session confs that change the schema Spark infers from a parquet footer.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)

# Inferred schemas by (path, size, mtime, inference confs). Spark infers a
# parquet schema with a one-task job on every read; a query builds its frames
# through load_table, so without this each table read cost a job launch
# before the query's own jobs. Passing the schema read last time skips it.
_SCHEMAS: dict[tuple, T.StructType] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """`spark.read.parquet(path)`, inferring the schema of a single file
    once per file version and session setting. A directory is read as it
    is: rewriting a part file in place would not show in its stat."""
    if not os.path.isfile(path):
        return spark.read.parquet(path)
    st = os.stat(path)
    key = (
        os.path.abspath(path), st.st_size, st.st_mtime_ns,
        tuple(spark.conf.get(c, None) for c in _INFERENCE_CONFS),
    )
    schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = df.schema
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table from `sf_dir`, normalizing ns timestamps to µs and
    spreading a single-row-group file over the cores."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    nano_cols = NANO_TS_COLUMNS.get(name, ())
    if nano_cols:
        _ensure_nanos_conf(spark)
    df = _read_parquet(spark, path)
    for c in nano_cols:
        dt = df.schema[c].dataType
        if isinstance(dt, T.LongType):
            # nanos surfaced as epoch-ns longs: integer division keeps full
            # precision (ns values exceed 2^53, so a double-division would
            # corrupt low bits); floor matches DuckDB.
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        elif isinstance(dt, T.TimestampNTZType):
            # µs/NTZ encoding: the cast reinterprets the wall clock in the
            # session zone and collect() renders it back in the same zone,
            # so values match DuckDB's naive read under any timezone.
            df = df.withColumn(c, F.col(c).cast("timestamp"))
        else:
            # any other surfaced type (e.g. plain TimestampType when NTZ
            # inference is off, or a UTC-adjusted MICROS file) would pass
            # through silently timezone-shifted vs DuckDB's naive read —
            # fail loudly so a new testdata encoding gets an explicit
            # normalization branch instead of wrong values.
            raise TypeError(
                f"{name}.{c}: unexpected surfaced type {dt.simpleString()}; "
                "load_table normalizes LongType (legacy nanos) and "
                "TimestampNTZType (µs) — add a branch for this encoding"
            )
    n_parts = _split_count(spark, path)
    if n_parts:
        df = df.repartition(n_parts, df.columns[0])
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TESTDATA_TABLES
) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TESTDATA_TABLES
) -> None:
    """Register all testdata tables as temp views for spark.sql() plans."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
