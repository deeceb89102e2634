"""Parquet table catalog over the driver-generated star schema.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet file each under an sf dir.

At cluster scale these would be partitioned/bucketed Delta or Iceberg
tables; the catalog abstraction is the same (name -> DataFrame), and every
operator takes DataFrames so the storage layer is swappable.
"""

from __future__ import annotations

import os

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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _normalize_event_time(df: DataFrame) -> DataFrame:
    """Normalize every TIMESTAMP_NTZ column to plain TIMESTAMP (LTZ).

    Spark 4's parquet reader infers ``timestamp[us]`` columns with no
    UTC-adjustment flag as TIMESTAMP_NTZ
    (``spark.sql.parquet.inferTimestampNTZ.enabled`` default true), but
    NTZ cannot carry a streaming watermark (EVENT_TIME_IS_NOT_ON_TIMESTAMP_
    TYPE) or cast to double for gap arithmetic. The session pins UTC
    (session.py), so NTZ -> LTZ is a pure reinterpretation — bit-exact
    micros, no DST folds — and every downstream operator sees one canonical
    event-time type regardless of how the parquet was written.
    """
    for col_name, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col_name, F.col(col_name).cast("timestamp"))
    return df


# Raw parquet schema per (abs sf dir, table): repeated query CONSTRUCTION
# re-infers the schema from parquet footers on every spark.read call —
# measured ~40% of a warm star-join query's wall time at sf0.1 is this
# driver-side footer re-read. The testdata under one path is immutable
# for the session (same assumption the bucketed staging makes), so the
# first read's schema is authoritative for the rest of the process.
_SCHEMA_CACHE: dict = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = (os.path.abspath(sf_dir), name)
    if name == "events":
        # Historical testdata shipped events.ts as TIMESTAMP(NANOS), which
        # Spark's parquet reader rejects by default — read the nanos as
        # long (legacy conf) and convert (exact: source is micros).
        # Current testdata ships timestamp[us], which reads as NTZ and is
        # normalized to LTZ below; both shapes land on identical TIMESTAMP.
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
        df = _read_cached(spark, key, path)
        if dict(df.dtypes).get("ts") == "bigint":
            # integer DIV: epoch-ns ~1.7e18 exceeds double's exact range, so
            # float division would wobble the microsecond value by ±1
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        return _normalize_event_time(df)
    return _normalize_event_time(_read_cached(spark, key, path))


def _read_cached(spark: SparkSession, key, path: str) -> DataFrame:
    cached = _SCHEMA_CACHE.get(key)
    if cached is not None:
        return spark.read.schema(cached).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMA_CACHE[key] = df.schema
    return df


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Register every table as a temp view (mirrors the DuckDB oracle's
    pre-registered views) and return the DataFrames."""
    out: dict[str, DataFrame] = {}
    for name in TABLE_NAMES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
