"""Fixture loading and UDF registration: ``sources.load_table`` reads
with a schema built from the parquet footer, equal to the one Spark
infers, and starts no Spark job; the TIMESTAMP(NANOS) ``events`` path
still normalizes ``ts``; ``add_udfs`` registers once per session."""

from __future__ import annotations

import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.udf import UDFRegistration

from datafusion_randgen_spark import add_udfs, sources

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


@pytest.fixture(scope="module")
def generated_sf(tmp_path_factory):
    """A fixture written by the benchmark's own generator script."""
    out = tmp_path_factory.mktemp("generated_sf")
    subprocess.run(
        [sys.executable, os.path.join(REPO, "perfbench", "fixtures.py"), str(out), "7"],
        check=True,
        timeout=300,
    )
    return str(out)


@pytest.fixture(params=["sf0.001", "sf0.01", "sf0.1", "generated"])
def sf_dir(request):
    if request.param == "generated":
        return request.getfixturevalue("generated_sf")
    path = os.path.join("/root/testdata", request.param)
    if not os.path.isdir(path):
        pytest.skip(f"{path} absent")
    return path


def test_footer_schema_equals_spark_inference(spark, sf_dir):
    """Every table's footer-built schema is Spark's inferred schema,
    field nullability included, so no entry's plan changes."""
    for name in sources.TABLES:
        path = sources.table_path(sf_dir, name)
        built = from_arrow_schema(sources.footer_schema(path), prefer_timestamp_ntz=True)
        inferred = spark.read.parquet(path).schema
        assert built == inferred, name
        assert [f.nullable for f in built.fields] == [f.nullable for f in inferred.fields], name
        if name != "events":
            assert sources.load_table(spark, sf_dir, name).schema == inferred, name


def test_register_views_starts_no_spark_job(spark, sf_dir):
    sc = spark.sparkContext
    group = f"register_views:{os.path.basename(sf_dir)}"
    sc.setJobGroup(group, "no schema inference")
    try:
        sources.register_views(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_footer_schema_of_directory_table_reads_first_sorted_file(tmp_path):
    table = tmp_path / "t.parquet"
    table.mkdir()
    pq.write_table(pa.table({"a": pa.array([1], pa.int32())}), table / "part-1.parquet")
    pq.write_table(pa.table({"a": pa.array([1], pa.int64())}), table / "part-0.parquet")
    assert sources.footer_schema(str(table)).field("a").type == pa.int64()
    empty = tmp_path / "empty.parquet"
    empty.mkdir()
    with pytest.raises(FileNotFoundError, match="no \\*.parquet file"):
        sources.footer_schema(str(empty))


@pytest.fixture
def restore_nanos_as_long(spark):
    before = spark.conf.get(NANOS_AS_LONG, None)
    yield before
    if before is None:
        spark.conf.unset(NANOS_AS_LONG)
    else:
        spark.conf.set(NANOS_AS_LONG, before)


# 1.7e18 ns is past double's exact-integer range: a float division
# would land one microsecond off for the last value.
TS_NANOS = [1_700_000_000_123_456_789, 1_700_000_000_000_000_999, 1_700_000_000_123_456_999]


def _write_events(sf_dir, unit: str) -> None:
    scale = {"ns": 1, "us": 1000}[unit]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(len(TS_NANOS)), pa.int64()),
                "ts": pa.array([v // scale for v in TS_NANOS], pa.timestamp(unit)),
            }
        ),
        os.path.join(sf_dir, "events.parquet"),
    )


@pytest.mark.parametrize("unit", ["ns", "us"])
def test_events_ts_normalized_for_nanos_and_micros(spark, tmp_path, restore_nanos_as_long, unit):
    assert int(float(TS_NANOS[2]) / 1000) != TS_NANOS[2] // 1000
    _write_events(str(tmp_path), unit)
    df = sources.load_table(spark, str(tmp_path), "events")
    assert isinstance(df.schema["ts"].dataType, T.TimestampType)
    micros = [r.us for r in df.orderBy("event_id").selectExpr("unix_micros(ts) AS us").collect()]
    # integer `div` truncation of the nanos
    assert micros == [v // 1000 for v in TS_NANOS]
    if unit == "us":
        assert spark.conf.get(NANOS_AS_LONG, None) == restore_nanos_as_long


def test_add_udfs_registers_once_per_session(spark, monkeypatch):
    calls = []
    register = UDFRegistration.register

    def counting(self, name, f, *args, **kwargs):
        calls.append(name)
        return register(self, name, f, *args, **kwargs)

    monkeypatch.setattr(UDFRegistration, "register", counting)
    add_udfs(spark)
    add_udfs(spark)
    assert calls == []
    s2 = spark.newSession()
    add_udfs(s2)
    assert "randgen_float64_uniform" in calls
    assert s2.catalog.functionExists("randgen_int64_uniform")
    n = len(calls)
    add_udfs(s2)
    assert len(calls) == n
    assert s2.sql("SELECT randgen_int64_uniform(1, 1) AS x").collect()[0].x == 1
    assert s2.read.format("randgen").option("rows", "5").load().count() == 5
