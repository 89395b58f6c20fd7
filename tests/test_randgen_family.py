"""Property tests for the extension generator grid (SURVEY.md §2.D):
parity pandas UDFs, expression fast paths, seeded deterministic mode."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from datafusion_randgen_spark.functions import exprs, seeded


def col0(spark, sql):
    return [r[0] for r in spark.sql(sql).collect()]


# --- parity pandas UDFs --------------------------------------------------

def test_float64_uniform_bounds_and_nulls(spark):
    xs = col0(spark, "SELECT randgen_float64_uniform(-2.5, 7.5) FROM range(1, 5001)")
    assert all(-2.5 <= x <= 7.5 for x in xs) and len(set(xs)) > 4990
    assert all(
        x is None
        for x in col0(spark, "SELECT randgen_float64_uniform(CAST(NULL AS DOUBLE), 1.0) FROM range(1, 101)")
    )


def test_float64_normal_moments(spark):
    row = spark.sql(
        "SELECT avg(x) AS m, stddev(x) AS s FROM "
        "(SELECT randgen_float64_normal(10.0, 2.0) AS x FROM range(1, 100001))"
    ).collect()[0]
    assert abs(row.m - 10.0) < 0.1 and abs(row.s - 2.0) < 0.1


def test_int64_normal_rounds(spark):
    xs = col0(spark, "SELECT randgen_int64_normal(100, 0.1) FROM range(1, 1001)")
    assert all(isinstance(x, int) and 98 <= x <= 102 for x in xs)


def test_bool_bernoulli(spark):
    xs = col0(spark, "SELECT randgen_bool_bernoulli(0.25) FROM range(1, 20001)")
    frac = sum(xs) / len(xs)
    assert 0.2 < frac < 0.3
    assert set(col0(spark, "SELECT randgen_bool_bernoulli(0.0) FROM range(1, 101)")) == {False}
    assert set(col0(spark, "SELECT randgen_bool_bernoulli(1.0) FROM range(1, 101)")) == {True}
    with pytest.raises(Exception, match="p must be in"):
        spark.sql("SELECT randgen_bool_bernoulli(1.5) FROM range(1, 11)").collect()


def test_string_alpha(spark):
    xs = col0(spark, "SELECT randgen_string_alpha(12) FROM range(1, 501)")
    assert all(len(x) == 12 and x.isascii() and x.isalpha() and x.islower() for x in xs)
    assert len(set(xs)) > 495
    # per-row lengths from a column
    rows = spark.sql(
        "SELECT id, randgen_string_alpha(id % 5) AS s FROM range(1, 101)"
    ).collect()
    assert all(len(r.s) == r.id % 5 for r in rows)


def test_timestamp_uniform(spark):
    xs = col0(
        spark,
        "SELECT randgen_timestamp_uniform(timestamp'2024-01-01 00:00:00', "
        "timestamp'2024-02-01 00:00:00') FROM range(1, 2001)",
    )
    import datetime

    lo = datetime.datetime(2024, 1, 1)
    hi = datetime.datetime(2024, 2, 1)
    assert all(lo <= x <= hi for x in xs) and len(set(xs)) > 1990


def test_element_from(spark):
    xs = col0(spark, "SELECT randgen_element_from_string(array('a','b','c')) FROM range(1, 3001)")
    assert set(xs) == {"a", "b", "c"}
    assert col0(spark, "SELECT randgen_element_from_int64(array(5)) FROM range(1, 11)") == [5] * 10
    assert set(col0(spark, "SELECT randgen_element_from_int64(CAST(NULL AS ARRAY<BIGINT>)) FROM range(1, 11)")) == {None}


def test_element_from_mixed_batch_null_empty_nan(spark):
    """One Arrow batch mixing NULL-array, empty-array, NaN-bearing
    float-array, and ordinary slots (VERDICT r6 task 5): NULL/empty →
    NULL result; an array whose *elements* include NaN is a valid
    population (NaN is a sample value, not a null marker)."""
    rows = spark.sql(
        """
        SELECT id, randgen_element_from_float64(a) AS x FROM (
          SELECT id, CASE
            WHEN id % 4 = 0 THEN CAST(NULL AS ARRAY<DOUBLE>)
            WHEN id % 4 = 1 THEN array()
            WHEN id % 4 = 2 THEN array(CAST('NaN' AS DOUBLE))
            ELSE array(1.5, 2.5)
          END AS a FROM range(0, 400))
        """
    ).collect()
    for r in rows:
        m = r.id % 4
        if m in (0, 1):
            assert r.x is None
        elif m == 2:
            # the kernel samples the NaN (pinned below at the pandas
            # level); pandas object-dtype → Arrow maps NaN to null at
            # the UDF boundary, so SQL-side either surface is fine
            assert r.x is None or math.isnan(r.x)
        else:
            assert r.x in (1.5, 2.5)


def test_element_from_kernel_nan_vs_null():
    """Kernel-level pin (below the Arrow boundary): a float NaN *slot*
    is a NULL array; a NaN *element* inside a real array is a sample
    value — the vectorized kernel must not conflate the two."""
    import numpy as np
    import pandas as pd

    from datafusion_randgen_spark.functions.randgen import _element_from_kernel

    out = _element_from_kernel(
        pd.Series([None, [], [float("nan")], [1.5, 2.5], float("nan"), np.nan], dtype=object)
    )
    assert out[0] is None and out[1] is None
    assert isinstance(out[2], float) and math.isnan(out[2])
    assert out[3] in (1.5, 2.5)
    assert out[4] is None and out[5] is None


# --- expression fast paths (pure Catalyst) -------------------------------

def test_expr_int64_uniform(spark):
    df = spark.range(1, 5001).select(exprs.int64_uniform_expr(F.lit(1), F.lit(10)).alias("x"))
    xs = [r.x for r in df.collect()]
    assert all(1 <= x <= 10 for x in xs) and set(xs) == set(range(1, 11))
    # stays JVM-side: no Python evaluation node in the plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_expr_sql_fastpaths_registered(spark):
    xs = col0(spark, "SELECT randgen_int64_uniform_expr(1, 10) FROM range(1, 1001)")
    assert all(1 <= x <= 10 for x in xs)
    xs = col0(spark, "SELECT randgen_float64_uniform_expr(0.0, 1.0) FROM range(1, 101)")
    assert all(0.0 <= x < 1.0 for x in xs)
    assert all(
        x is None for x in col0(spark, "SELECT randgen_int64_uniform_expr(1, NULL) FROM range(1, 101)")
    )
    with pytest.raises(Exception, match="invalid range"):
        spark.sql("SELECT randgen_int64_uniform_expr(10, 1) FROM range(1, 11)").collect()


I64_MIN, I64_MAX = -(2**63), 2**63 - 1


def _expr_draws(spark, spelling, lo, hi, n):
    if spelling == "sql":
        return spark.sql(f"SELECT randgen_int64_uniform_expr({lo}, {hi}) AS x FROM range({n})")
    return spark.range(n).select(exprs.int64_uniform_expr(F.lit(lo), F.lit(hi)).alias("x"))


@pytest.mark.parametrize("spelling", ["sql", "column"])
def test_expr_int64_uniform_reaches_upper_bound_at_i64_max(spark, spelling):
    """A double-based span (hi - lo + 1 in float64) never drew i64::MAX."""
    xs = {r.x for r in _expr_draws(spark, spelling, I64_MAX - 1, I64_MAX, 2000).collect()}
    assert xs == {I64_MAX - 1, I64_MAX}


@pytest.mark.parametrize("spelling", ["sql", "column"])
def test_expr_int64_uniform_full_range_exact(spark, spelling):
    """Over [i64::MIN, i64::MAX] a 53-bit double draw lands on multiples
    of 2048, and its saturated cast adds -1."""
    r = (
        _expr_draws(spark, spelling, I64_MIN, I64_MAX, 20000)
        .selectExpr(
            "count(DISTINCT pmod(x, 2048)) AS low_bits",
            "count_if(x = -1) AS minus_one",
            "count_if(x < 0) AS neg",
        )
        .collect()[0]
    )
    assert r.low_bits > 1900 and r.minus_one == 0 and 9000 < r.neg < 11000


def test_expr_timestamp_uniform_reaches_both_ends(spark):
    """timestamp_uniform_expr draws through int64_uniform_expr on micros."""
    ts = spark.range(2000).select(
        exprs.timestamp_uniform_expr(
            F.lit("2024-01-01 00:00:00"), F.lit("2024-01-01 00:00:00.000001")
        ).alias("t")
    )
    assert len({r.t for r in ts.collect()}) == 2


def test_expr_normal_and_bernoulli(spark):
    row = (
        spark.range(1, 100001)
        .select(exprs.float64_normal_expr(F.lit(0.0), F.lit(1.0)).alias("z"))
        .agg(F.avg("z").alias("m"), F.stddev("z").alias("s"))
        .collect()[0]
    )
    assert abs(row.m) < 0.05 and abs(row.s - 1.0) < 0.05


# --- seeded deterministic generators --------------------------------------

def test_seeded_reproducible_and_partition_invariant(spark):
    def gen(parts):
        return (
            spark.range(1, 10001, 1, parts)
            .select("id", seeded.seeded_int64_uniform(F.col("id"), 1, 100, seed=42).alias("x"))
        )

    a = {r.id: r.x for r in gen(2).collect()}
    b = {r.id: r.x for r in gen(16).collect()}
    assert a == b  # same values regardless of partitioning
    assert all(1 <= v <= 100 for v in a.values())
    c = {r.id: r.x for r in gen(2).collect()}
    assert a == c  # reproducible across runs


def test_seeded_different_seeds_differ(spark):
    df = spark.range(1, 1001).select(
        seeded.seeded_int64_uniform(F.col("id"), 1, 1000000, seed=1).alias("a"),
        seeded.seeded_int64_uniform(F.col("id"), 1, 1000000, seed=2).alias("b"),
    )
    assert df.filter("a = b").count() < 5


def test_seeded_unit_uniform_range_and_mean(spark):
    row = (
        spark.range(1, 100001)
        .select(seeded.seeded_unit_uniform(F.col("id"), 7).alias("u"))
        .agg(F.min("u").alias("lo"), F.max("u").alias("hi"), F.avg("u").alias("m"))
        .collect()[0]
    )
    assert 0.0 <= row.lo and row.hi < 1.0 and abs(row.m - 0.5) < 0.01


def test_seeded_normal_moments(spark):
    row = (
        spark.range(1, 100001)
        .select(seeded.seeded_float64_normal(F.col("id"), 5.0, 3.0, seed=9).alias("z"))
        .agg(F.avg("z").alias("m"), F.stddev("z").alias("s"))
        .collect()[0]
    )
    assert abs(row.m - 5.0) < 0.15 and abs(row.s - 3.0) < 0.15


def test_seeded_bernoulli(spark):
    n = (
        spark.range(1, 20001)
        .select(seeded.seeded_bool_bernoulli(F.col("id"), 0.1, seed=3).alias("b"))
        .filter("b")
        .count()
    )
    assert 1700 < n < 2300


def test_seeded_full_span_no_overflow(spark):
    xs = [
        r.x
        for r in spark.range(1, 1001)
        .select(
            seeded.seeded_int64_uniform(
                F.col("id"), -(2**63), 2**63 - 1, seed=5
            ).alias("x")
        )
        .collect()
    ]
    assert len(set(xs)) > 990


def test_gamma_beta_invalid_params_raise(spark):
    import pytest as _pytest

    for sql in (
        "SELECT randgen_float64_gamma(-1.0, 2.0) FROM range(5)",
        "SELECT randgen_float64_beta(0.0, 1.0) FROM range(5)",
    ):
        with _pytest.raises(Exception, match="must be > 0"):
            spark.sql(sql).collect()


def test_laplace_geometric_support_and_nulls(spark):
    from datafusion_randgen_spark import add_udfs

    add_udfs(spark)
    row = spark.sql(
        """
        WITH l AS (SELECT randgen_float64_laplace(0.0, 1.0) AS x
                   FROM range(0, 5000)),
             g AS (SELECT randgen_int64_geometric(0.5) AS x
                   FROM range(0, 5000))
        SELECT (SELECT count_if(x IS NULL) FROM l) AS l_null,
               (SELECT count(DISTINCT x) > 4900 FROM l) AS l_distinct,
               (SELECT min(x) >= 1 FROM g) AS g_support,
               (SELECT avg(x) BETWEEN 1.8 AND 2.2 FROM g) AS g_mean,
               (SELECT randgen_int64_geometric(CAST(NULL AS DOUBLE))) AS g_null
        """
    ).first()
    assert row.l_null == 0 and row.l_distinct
    assert row.g_support and row.g_mean and row.g_null is None


def test_laplace_geometric_invalid_params_raise(spark):
    import pytest as _pytest

    from datafusion_randgen_spark import add_udfs

    add_udfs(spark)
    with _pytest.raises(Exception, match="scale must be > 0"):
        spark.sql("SELECT randgen_float64_laplace(0.0, -1.0) FROM range(5)").collect()
    with _pytest.raises(Exception, match="p must be in"):
        spark.sql("SELECT randgen_int64_geometric(1.5) FROM range(5)").collect()
