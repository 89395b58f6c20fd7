"""1:1 ports of the reference's 9 end-to-end SQL tests, plus the checks
the reference misses (SURVEY.md §5).

Reference tests live at ``/root/reference/src/randgen/int64_uniform.rs``:
bound-property tests ``:166-220`` (one per dispatch arm) and the 5-case
null-propagation matrix ``:222-275``.  DataFusion's
``generate_series(1, 100)`` is inclusive → ``range(1, 101)`` in Spark.
"""

from __future__ import annotations

import pytest


def vals(spark, sql):
    """query_to_values equivalent (test_helpers.rs:7-33): run SQL, flatten col 0."""
    df = spark.sql(sql)
    return [r[0] for r in df.collect()], df.schema[0].dataType.typeName()


# --- bound-property tests, one per reference dispatch arm ---------------

def test_const_const_bounds(spark):
    # int64_uniform.rs:166-178
    xs, t = vals(spark, "SELECT randgen_int64_uniform(1, 10) AS x FROM range(1, 101)")
    assert t == "long" and len(xs) == 100
    assert all(1 <= x <= 10 for x in xs)
    # the reference's const×const arm broadcasts ONE draw per batch
    # (int64_uniform.rs:68-75); we deliberately draw per row (SURVEY §4).
    assert len(set(xs)) > 1


def test_array_const_bounds(spark):
    # int64_uniform.rs:180-192: inner y in [1,10], outer uniform(y, 20) in [1,20]
    xs, _ = vals(
        spark,
        "SELECT randgen_int64_uniform(y, 20) AS x FROM "
        "(SELECT randgen_int64_uniform(1, 10) AS y FROM range(1, 101))",
    )
    assert len(xs) == 100 and all(1 <= x <= 20 for x in xs)


def test_const_array_bounds(spark):
    # int64_uniform.rs:194-206
    xs, _ = vals(
        spark,
        "SELECT randgen_int64_uniform(1, y) AS x FROM "
        "(SELECT randgen_int64_uniform(11, 20) AS y FROM range(1, 101))",
    )
    assert len(xs) == 100 and all(1 <= x <= 20 for x in xs)


def test_array_array_bounds(spark):
    # int64_uniform.rs:208-220
    xs, _ = vals(
        spark,
        "SELECT randgen_int64_uniform(lo, hi) AS x FROM "
        "(SELECT randgen_int64_uniform(1, 10) AS lo, randgen_int64_uniform(11, 20) AS hi "
        " FROM range(1, 101))",
    )
    assert len(xs) == 100 and all(1 <= x <= 20 for x in xs)


def test_per_row_bounds_with_columns(spark):
    """Stronger than the reference (it only checks the union range)."""
    rows = spark.sql(
        "SELECT lo, hi, randgen_int64_uniform(lo, hi) AS x FROM "
        "(SELECT 1 + id % 10 AS lo, 11 + id % 10 AS hi FROM range(1, 101))"
    ).collect()
    assert all(r.lo <= r.x <= r.hi for r in rows)


# --- null-propagation matrix (int64_uniform.rs:222-275) -----------------

@pytest.mark.parametrize(
    "expr",
    [
        "randgen_int64_uniform(1, CAST(NULL AS BIGINT))",                      # :222-231
        "randgen_int64_uniform(randgen_int64_uniform(1, 10), CAST(NULL AS BIGINT))",  # :233-242
        "randgen_int64_uniform(CAST(NULL AS BIGINT), CAST(NULL AS BIGINT))",   # :244-253
        "randgen_int64_uniform(CAST(NULL AS BIGINT), 10)",                     # :255-264
        "randgen_int64_uniform(CAST(NULL AS BIGINT), randgen_int64_uniform(11, 20))",  # :266-275
    ],
)
def test_null_propagation_all_null(spark, expr):
    xs, t = vals(spark, f"SELECT {expr} AS x FROM range(1, 101)")
    assert t == "long" and len(xs) == 100 and all(x is None for x in xs)


def test_mixed_null_array_slots(spark):
    """Nulls *inside* bound columns — untested in the reference (SURVEY §5)."""
    rows = spark.sql(
        "SELECT lo, hi, randgen_int64_uniform(lo, hi) AS x FROM "
        "(SELECT IF(id % 3 = 0, NULL, 1 + id % 10) AS lo, "
        "        IF(id % 4 = 0, NULL, 11 + id % 10) AS hi FROM range(1, 101))"
    ).collect()
    for r in rows:
        if r.lo is None or r.hi is None:
            assert r.x is None
        else:
            assert r.lo <= r.x <= r.hi


# --- semantics the reference's tests miss (SURVEY.md §5) ----------------

def test_inclusive_endpoints_reached(spark):
    xs, _ = vals(spark, "SELECT randgen_int64_uniform(1, 2) AS x FROM range(1, 2001)")
    assert set(xs) == {1, 2}


def test_degenerate_range(spark):
    xs, _ = vals(spark, "SELECT randgen_int64_uniform(7, 7) AS x FROM range(1, 101)")
    assert set(xs) == {7}


def test_extreme_range_no_overflow(spark):
    xs, _ = vals(
        spark,
        "SELECT randgen_int64_uniform(-9223372036854775808, 9223372036854775807) AS x "
        "FROM range(1, 1001)",
    )
    assert len(set(xs)) > 990  # collisions over the full i64 space ~impossible


def test_min_gt_max_raises(spark):
    # reference panics (Uniform::new_inclusive(..).unwrap(), :99)
    with pytest.raises(Exception, match="invalid range"):
        spark.sql("SELECT randgen_int64_uniform(100, 1) AS x FROM range(1, 11)").collect()


def test_nondeterministic_flag(spark):
    """Forgetting .asNondeterministic() silently breaks semantics (SURVEY §4).
    ``randgen_int64_uniform`` is a SQL function, volatile through its
    ``rand()`` calls: see ``test_int64_uniform_not_reevaluated_after_collapse``."""
    from datafusion_randgen_spark.functions import randgen as rg

    for name, udf in rg._PARITY_UDFS.items():
        assert not udf.deterministic, name


def test_statistical_mean(spark):
    # note: Spark 4 rejects nondeterministic exprs directly inside an
    # aggregate argument — generate in a subquery, aggregate outside.
    row = spark.sql(
        "SELECT avg(x) AS m FROM "
        "(SELECT randgen_int64_uniform(1, 100) AS x FROM range(1, 100001))"
    ).collect()[0]
    assert abs(row.m - 50.5) < 1.0  # se ≈ 0.09, 10σ margin


def test_nullable_extreme_bounds_exact(spark):
    """A NULLABLE bound column at i64::MAX stays exact (no float64
    round trip, no 2^53 precision cliff) when the column holds nulls."""
    rows = spark.sql(
        """
        SELECT randgen_int64_uniform(9223372036854775806, hi) AS x
        FROM VALUES (CAST(9223372036854775807 AS BIGINT)),
                    (CAST(NULL AS BIGINT)) t(hi)
        """
    ).collect()
    assert rows[0].x in (9223372036854775806, 9223372036854775807)
    assert rows[1].x is None


# --- randgen_int64_uniform as a whole-stage-codegen SQL function ---------

I64_MIN, I64_MAX = -(2**63), 2**63 - 1


def test_int64_uniform_runs_without_python_worker(spark):
    from datafusion_randgen_spark import plans

    df = spark.sql(
        "SELECT randgen_int64_uniform(1, 10) AS a, randgen_int64_uniform(-id, id) AS b "
        "FROM range(1, 101)"
    )
    assert plans.python_eval_nodes(df) == 0
    assert plans.physical_plan(df).startswith("*(1) Project")  # inside whole-stage codegen


def test_int64_uniform_not_reevaluated_after_collapse(spark):
    """A nondeterministic producer read twice must not be inlined into its
    consumer (CollapseProject), or ``x`` and its copy would be two draws."""
    rows = spark.sql(
        "SELECT x, x AS y FROM (SELECT randgen_int64_uniform(1, 1000000) AS x FROM range(1, 10001))"
    ).collect()
    assert all(r.x == r.y for r in rows)
    assert len({r.x for r in rows}) > 1


def test_int64_uniform_call_sites_draw_independently(spark):
    rows = spark.sql(
        "SELECT randgen_int64_uniform(1, 1000000) AS a, randgen_int64_uniform(1, 1000000) AS b "
        "FROM range(1, 1001)"
    ).collect()
    assert sum(r.a != r.b for r in rows) > 990


@pytest.mark.parametrize(
    "lo, hi",
    [
        (0, 2**32 - 2),  # n = 2^32 - 1
        (I64_MIN, I64_MIN + 2**32 - 1),  # n = 2^32, the last 63-bit span
        (I64_MAX - 2**32, I64_MAX),  # n = 2^32 + 1, the first DECIMAL span
    ],
)
def test_int64_uniform_branch_edge_spans(spark, lo, hi):
    n = hi - lo + 1
    r = spark.sql(
        f"""
        SELECT count_if(x < {lo} OR x > {hi}) AS out, min(x) AS mn, max(x) AS mx,
               count(DISTINCT x) AS nd, count(DISTINCT pmod(x, 2048)) AS low_bits
        FROM (SELECT randgen_int64_uniform({lo}, {hi}) AS x FROM range(20000))
        """
    ).collect()[0]
    assert r.out == 0
    # P(no draw in the bottom or top 1%) = 0.99^20000 ~ e^-201
    assert r.mn < lo + n // 100 and r.mx > hi - n // 100
    assert r.nd > 19900 and r.low_bits > 1900


def test_int64_uniform_chi_square(spark):
    counts = dict(
        spark.sql(
            "SELECT x, count(*) FROM (SELECT randgen_int64_uniform(1, 10) AS x FROM range(100000)) "
            "GROUP BY x"
        ).collect()
    )
    assert set(counts) == set(range(1, 11))
    chi2 = sum((c - 10000) ** 2 / 10000 for c in counts.values())
    assert chi2 < 45.0  # chi-square, 9 df: P(> 45) ~ 1e-6


@pytest.fixture(params=["true", "false"])
def ansi(spark, request):
    key = "spark.sql.ansi.enabled"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, request.param)
    yield request.param
    if prev is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, prev)


@pytest.mark.parametrize(
    "lo, hi, expected",
    [
        (I64_MIN, I64_MIN, {I64_MIN}),
        (I64_MAX, I64_MAX, {I64_MAX}),
        (I64_MAX - 1, I64_MAX, {I64_MAX - 1, I64_MAX}),
        (I64_MIN, I64_MIN + 1, {I64_MIN, I64_MIN + 1}),
    ],
)
def test_int64_uniform_extreme_bounds_exact(spark, ansi, lo, hi, expected):
    for bounds in (f"{lo}, {hi}", "lo, hi"):
        xs = {
            r.x
            for r in spark.sql(
                f"SELECT randgen_int64_uniform({bounds}) AS x "
                f"FROM (SELECT CAST({lo} AS BIGINT) AS lo, CAST({hi} AS BIGINT) AS hi, id FROM range(2000))"
            ).collect()
        }
        assert xs == expected, (ansi, bounds)


def test_int64_uniform_full_range_not_quantized(spark, ansi):
    r = spark.sql(
        f"""
        SELECT count(DISTINCT x) AS nd, count(DISTINCT pmod(x, 2048)) AS low_bits,
               count_if(x < 0) AS neg, count_if(x = -1) AS minus_one
        FROM (SELECT randgen_int64_uniform({I64_MIN}, {I64_MAX}) AS x FROM range(20000))
        """
    ).collect()[0]
    assert r.nd > 19990 and r.low_bits > 1900
    assert 9000 < r.neg < 11000 and r.minus_one == 0
