"""Sources: the row-generating sequence source the reference queries use,
parquet fixture loading, and synthetic-table writers.

Fixture tables are read with a schema built on the driver from each
parquet footer, so loading a table or registering the fixture views
runs no Spark job.  The one exception is an ``events`` table whose
``ts`` is TIMESTAMP(NANOS): Spark infers that schema itself (see
``load_table``)."""

from __future__ import annotations

import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

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


def generate_series(spark: SparkSession, start: int, end: int, num_partitions: int | None = None) -> DataFrame:
    """DataFusion's ``generate_series(start, end)`` table function
    (reference test source, ``src/randgen/int64_uniform.rs:170``):
    *inclusive* of ``end`` — Spark's ``range`` is end-exclusive, hence +1.

    ``num_partitions`` is the scale knob: generation is embarrassingly
    parallel, so at cluster scale pass ~2-3× total cores.
    """
    if num_partitions:
        return spark.range(start, end + 1, 1, num_partitions).withColumnRenamed("id", "value")
    return spark.range(start, end + 1).withColumnRenamed("id", "value")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def footer_schema(path: str) -> pa.Schema:
    """The Arrow schema in the parquet footer of ``path``: the file
    itself, or for a directory table its first ``*.parquet`` file in
    sorted order."""
    if os.path.isdir(path):
        files = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not files:
            raise FileNotFoundError(f"no *.parquet file in {path}")
        path = files[0]
    return pq.read_schema(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan — columnar, filter/column pushdown handled by Catalyst.

    The read schema is built on the driver from the parquet footer
    (``footer_schema``), so the scan starts no schema-inference job; it
    is the schema Spark infers for these files (checked per table in
    ``tests/test_sources.py``).  Nothing is cached: every call reads
    the footer again.

    ``events.ts`` has shipped as either TIMESTAMP(NANOS) — which Spark's
    vectorized parquet reader rejects — or TIMESTAMP(MICROS), depending
    on the fixture generation.  Handle both: a nanos footer is the one
    exception to the explicit schema — with ``nanosAsLong`` set, Spark
    infers the column as LongType (converted with integer ``div``, the
    same truncation DuckDB applies); a micros column reads as a
    timestamp already (normalize NTZ → session-UTC TimestampType so
    downstream queries see one type either way).
    """
    path = table_path(sf_dir, name)
    arrow = footer_schema(path)
    if name == "events" and getattr(arrow.field("ts").type, "unit", None) == "ns":
        # Only mutate the session conf when the footer really is nanos
        # (the vectorized reader needs it for the whole lifetime of the
        # scan, so it cannot be set-and-restored); a micros fixture
        # leaves the session untouched.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # integer `div`, NOT floor(x/1000.0): ~1.7e18 ns exceeds double's
        # exact-integer range, and the rounding error shifts ±1µs.
        return spark.read.parquet(path).withColumn(
            "ts", F.expr("timestamp_micros(ts div 1000)")
        )
    df = spark.read.schema(from_arrow_schema(arrow, prefer_timestamp_ntz=True)).parquet(path)
    if name == "events":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view named after itself."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
