"""Parquet table loaders for the test corpus.

Reference parity: `catalog search/stage1_extract_csv.py:350-404`
(load_master_catalog / initialize_master_csvs) reads master CSVs from a
NAS share; here the durable store is parquet read through
``spark.read.parquet`` so filter pushdown / column pruning / partition
discovery are free. At cluster scale the same call reads a 100 TB
partitioned table — nothing in the loader is size-dependent.

A ``spark.read.parquet`` without a schema starts a Spark job to infer
one (64–72 ms of CPU a call in a warm session, against 6–8 ms for a
read given its schema), so ``load_table`` memoizes Spark's own inferred
schema per session through ``functions/plan_memo.plan_memo`` and reads
with it. The memo is keyed on the application, the signature of the
table directory (name, size and mtime of each ``*.parquet`` entry) and
the table name: a table rewritten in place is inferred again only if
its size or mtime changes. Only the schema is kept, never the
DataFrame: two loads of one table stay two relations with fresh
attribute ids, so a query may self-join two loads.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..functions.plan_memo import plan_memo

TABLES = (
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


def _ensure_session_confs(spark: SparkSession) -> None:
    """Make the engine work on ANY caller-provided session (the driver
    builds its own): nanos-timestamp parquet needs the legacy long read,
    and oracle comparisons assume UTC wall-clock rendering. Both confs
    are runtime-settable and idempotent."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


@plan_memo
def _inferred_schema(spark: SparkSession, sf_dir: str, name: str) -> T.StructType:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet")).schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    _ensure_session_confs(spark)
    schema = _inferred_schema(spark, sf_dir, name)
    df = spark.read.schema(schema).parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = _normalize_event_ts(df)
    return df


def _normalize_event_ts(df: DataFrame):
    """Normalize ``events.ts`` to a session-TZ microsecond TIMESTAMP
    regardless of how the corpus was written. Generations of the test
    corpus have used parquet TIMESTAMP(NANOS) (arrives as long under
    nanosAsLong — truncate with integer division; a double division
    would lose precision on 1e18-scale nanos), TIMESTAMP_NTZ(µs), and
    TIMESTAMP(µs). Oracle SQL applies the same µs truncation so both
    engines agree exactly."""
    from pyspark.sql import functions as F

    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, T.TimestampNTZType):
        # Session TZ is pinned to UTC, so the wall clock is preserved.
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register temp views so plans can also be expressed via spark.sql."""
    for n, df in load_tables(spark, sf_dir, *names).items():
        df.createOrReplaceTempView(n)
