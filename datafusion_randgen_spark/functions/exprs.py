"""Expression fast paths — pure-Catalyst randgen builders.

Same distributions as ``functions.randgen`` but built from
``pyspark.sql.functions`` primitives (``rand``/``randn``), so they stay
JVM-side inside whole-stage codegen: no Arrow transfer, no Python worker.
This is the 100 TB path — per-row cost is a few codegen'd arithmetic ops.

The reference's own function, ``randgen_int64_uniform(min, max)``
(reference ``src/randgen/int64_uniform.rs:17-153``), lives here as the
SQL function body ``INT64_UNIFORM_SQL``; ``int64_uniform_expr`` is the
same expression spelled as a ``Column``.  Semantics:

* **Inclusive, exact bounds** for every ``min <= max`` in BIGINT, ANSI
  mode on or off (``Uniform::new_inclusive``, ``int64_uniform.rs:99``).
  Each value's probability is within a relative 2^-31 of 1/n for spans
  n = max - min + 1 <= 2^32, and 2^-42 above (see ``INT64_UNIFORM_SQL``).
* **NULL in either bound → NULL out**, per row (``:222-275``).
* **``min > max`` raises** ``invalid range`` via ``raise_error`` (the
  reference panics).
* **Volatile**: ``rand()`` makes the expression nondeterministic, so
  Catalyst will not constant-fold it, collapse it into a consumer that
  reads it twice, or push it through filters/joins.  Each analysed
  plan fixes its ``rand`` seeds, as with Spark's own ``rand()``:
  collecting the same DataFrame again repeats its draws, while a new
  query (a new ``spark.sql`` call or DataFrame) draws afresh.

``min > max`` in the other builders also yields a runtime error via
``raise_error``; NULL propagation is native (arithmetic over NULL is
NULL).

Each builder also registers as a SQL UDF (``CREATE TEMPORARY FUNCTION …
RETURNS … RETURN <expr>``) so the fast path is reachable from plain SQL;
SQL UDF bodies are inlined into the plan by the analyzer, so they codegen
exactly like the Column builders.
"""

from __future__ import annotations

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

ColumnOrName = Column | str | int | float


def _c(x) -> Column:
    return x if isinstance(x, Column) else F.lit(x)


# Uniform BIGINT in [lo, hi]: lo + pmod(r, n), n = hi - lo + 1, with r
# exactly uniform on [0, 2^b).  rand() is a uniform double on the 2^-53
# grid, so floor(rand() * 2^k) is exactly uniform on [0, 2^k) for
# k <= 53, and each value's probability is within a relative n / 2^b
# of 1/n.  Spans with n <= 2^32 take r from two draws (31 + 32 bits, a
# BIGINT below 2^63): bias <= 2^-31.  Wider spans, up to
# [i64::MIN, i64::MAX], take r from two 53-bit draws in DECIMAL:
# bias <= 2^-42.  try_subtract sends a span whose width overflows BIGINT
# to the DECIMAL branch under ANSI on or off.
_R63_SQL = "floor(rand() * 2147483648D) * 4294967296 + floor(rand() * 4294967296D)"
_R106_SQL = (
    "CAST(floor(rand() * 9007199254740992D) AS DECIMAL(16,0)) * 9007199254740992 "
    "+ CAST(floor(rand() * 9007199254740992D) AS DECIMAL(16,0))"
)
INT64_UNIFORM_SQL = (
    "CASE WHEN lo IS NULL OR hi IS NULL THEN CAST(NULL AS BIGINT) "
    "WHEN lo > hi THEN CAST(raise_error(concat("
    "'randgen_int64_uniform: invalid range min=', lo, ' > max=', hi)) AS BIGINT) "
    f"WHEN try_subtract(hi, lo) < 4294967296 THEN lo + pmod({_R63_SQL}, hi - lo + 1) "
    f"ELSE CAST(lo + pmod({_R106_SQL}, CAST(hi AS DECIMAL(20,0)) - lo + 1) AS BIGINT) END"
)


def int64_uniform_expr(lo: ColumnOrName, hi: ColumnOrName) -> Column:
    """Uniform int64 in [lo, hi] inclusive, JVM-side: ``INT64_UNIFORM_SQL``
    as a Column, so it needs no registered function.  NULL in either
    bound propagates; lo > hi raises ``invalid range`` at runtime."""
    lo_c, hi_c = _c(lo).cast("long"), _c(hi).cast("long")
    invalid = F.concat(
        F.lit("randgen_int64_uniform: invalid range min="), lo_c, F.lit(" > max="), hi_c
    )
    small = F.try_subtract(hi_c, lo_c) < F.lit(2**32)
    return (
        F.when(lo_c.isNull() | hi_c.isNull(), F.lit(None).cast("long"))
        .when(lo_c > hi_c, F.raise_error(invalid).cast("long"))
        .when(small, lo_c + F.pmod(F.expr(_R63_SQL), hi_c - lo_c + F.lit(1)))
        .otherwise(
            (lo_c + F.pmod(F.expr(_R106_SQL), hi_c.cast("decimal(20,0)") - lo_c + F.lit(1))).cast("long")
        )
    )


def float64_uniform_expr(lo: ColumnOrName, hi: ColumnOrName) -> Column:
    lo_c, hi_c = _c(lo), _c(hi)
    draw = F.rand() * (hi_c.cast("double") - lo_c.cast("double")) + lo_c.cast("double")
    return (
        F.when(lo_c.isNull() | hi_c.isNull(), F.lit(None).cast("double"))
        .when(lo_c > hi_c, F.raise_error(F.lit("float64_uniform_expr: min > max")).cast("double"))
        .otherwise(draw)
    )


def float64_normal_expr(mean: ColumnOrName, std: ColumnOrName) -> Column:
    m_c, s_c = _c(mean), _c(std)
    return (
        F.when(m_c.isNull() | s_c.isNull(), F.lit(None).cast("double"))
        .when(s_c < 0, F.raise_error(F.lit("float64_normal_expr: std < 0")).cast("double"))
        .otherwise(F.randn() * s_c.cast("double") + m_c.cast("double"))
    )


def bool_bernoulli_expr(p: ColumnOrName) -> Column:
    p_c = _c(p)
    return (
        F.when(p_c.isNull(), F.lit(None).cast("boolean"))
        .when((p_c < 0) | (p_c > 1), F.raise_error(F.lit("bool_bernoulli_expr: p outside [0,1]")).cast("boolean"))
        .otherwise(F.rand() < p_c.cast("double"))
    )


def element_from_expr(arr: Column) -> Column:
    """Uniformly pick one element of an array column (NULL/empty -> NULL)."""
    idx = (F.floor(F.rand() * F.size(arr)) + F.lit(1)).cast("int")
    return F.when(arr.isNull() | (F.size(arr) == 0), F.lit(None)).otherwise(
        F.element_at(arr, idx)
    )


def timestamp_uniform_expr(lo: ColumnOrName, hi: ColumnOrName) -> Column:
    """Uniform timestamp in [lo, hi] (microsecond granularity)."""
    lo_c, hi_c = _c(lo), _c(hi)
    lo_us = F.unix_micros(lo_c.cast("timestamp"))
    hi_us = F.unix_micros(hi_c.cast("timestamp"))
    return F.timestamp_micros(int64_uniform_expr(lo_us, hi_us))


def date_uniform_expr(lo: ColumnOrName, hi: ColumnOrName) -> Column:
    """Uniform date in [lo, hi] inclusive."""
    lo_c, hi_c = _c(lo), _c(hi)
    lo_d, hi_d = lo_c.cast("date"), hi_c.cast("date")
    return F.date_add(lo_d, int64_uniform_expr(F.lit(0), F.datediff(hi_d, lo_d)).cast("int"))


def float64_exponential_expr(rate: ColumnOrName) -> Column:
    """Exponential(rate) via inverse CDF: -ln(1 - u) / rate; mean 1/rate."""
    r_c = _c(rate)
    draw = -F.log(F.lit(1.0) - F.rand()) / r_c.cast("double")
    return (
        F.when(r_c.isNull(), F.lit(None).cast("double"))
        .when(r_c <= 0, F.raise_error(F.lit("float64_exponential_expr: rate <= 0")).cast("double"))
        .otherwise(draw)
    )


def float64_lognormal_expr(mu: ColumnOrName, sigma: ColumnOrName) -> Column:
    """LogNormal(mu, sigma): exp(N(mu, sigma)); median = e^mu."""
    return F.exp(float64_normal_expr(mu, sigma))


def int64_zipf_expr(n: ColumnOrName, s: ColumnOrName) -> Column:
    """Approximate Zipf(s) rank in [1, n] via the continuous inverse CDF
    ``floor(((n^(1-s) - 1)·u + 1)^(1/(1-s)))``, clamped to [1, n]; at
    the removable singularity s = 1 the formula's limit ``n^u`` is used
    (matching the seeded generator, so a spec that validates in one
    seed mode cannot break in the other).

    This is the standard generator for *skewed synthetic join keys* —
    the tool you reach for when testing salting / AQE skew handling at
    scale.  The rank-frequency curve tracks an exact Zipf to within a
    few percent; the heavy head (rank 1 most frequent) is exact.
    """
    n_c, s_c = _c(n), _c(s)
    u = F.rand()
    one_minus_s = F.lit(1.0) - s_c.cast("double")
    x = F.when(s_c.cast("double") == 1.0, F.pow(n_c.cast("double"), u)).otherwise(
        F.pow(
            (F.pow(n_c.cast("double"), one_minus_s) - F.lit(1.0)) * u + F.lit(1.0),
            F.lit(1.0) / one_minus_s,
        )
    )
    draw = F.least(F.greatest(F.floor(x).cast("long"), F.lit(1)), n_c.cast("long"))
    return (
        F.when(n_c.isNull() | s_c.isNull(), F.lit(None).cast("long"))
        .when((n_c < 1) | (s_c <= 0),
              F.raise_error(F.lit("int64_zipf_expr: need n >= 1, s > 0")).cast("long"))
        .otherwise(draw)
    )


def element_from_weighted_expr(values: list, weights: list[float]) -> Column:
    """Weighted categorical draw from Python-side (values, weights).

    Compiles to a codegen'd CASE over cumulative probabilities — no HOF,
    no UDF; the per-row cost is a handful of double compares.  This is
    the deliberate design for synthetic-data category columns (country,
    event_type, label): the domain is plan-time metadata, not data.
    """
    if len(values) != len(weights) or not values:
        raise ValueError("element_from_weighted_expr: values/weights must be same nonzero length")
    if any(w < 0 for w in weights) or sum(weights) <= 0:
        raise ValueError("element_from_weighted_expr: weights must be >= 0 with positive sum")
    total = float(sum(weights))
    # Index = Σ 1[u >= cum_i], all terms evaluated UNCONDITIONALLY over
    # copies of ONE same-seeded Rand.  A CASE WHEN chain would be wrong
    # here: branch conditions evaluate conditionally, so the per-branch
    # Rand copies desynchronize (branch 2 only advances on rows where
    # branch 1 failed) and branches compare DIFFERENT uniforms.  An
    # unconditional sum advances every copy once per row in lockstep,
    # so all comparisons see the same draw.  (Distinct F.rand() calls
    # would be wrong differently: independent seeds → independent
    # indicators → not a categorical distribution.)
    cums: list[float] = []
    acc = 0.0
    for w in weights[:-1]:
        acc += w / total
        cums.append(acc)
    if not cums:
        return F.lit(values[0])
    u = F.rand()  # one seed, copied into every indicator below
    idx = sum(((u >= F.lit(c)).cast("int") for c in cums), F.lit(0))
    return F.element_at(F.array(*[F.lit(v) for v in values]), idx + 1)


_INT64_UNIFORM_FN = f"(lo BIGINT, hi BIGINT) RETURNS BIGINT RETURN {INT64_UNIFORM_SQL}"

_SQL_FASTPATHS = {
    "randgen_int64_uniform": _INT64_UNIFORM_FN,
    "randgen_int64_uniform_expr": _INT64_UNIFORM_FN,
    "randgen_float64_uniform_expr": (
        "(lo DOUBLE, hi DOUBLE) RETURNS DOUBLE RETURN "
        "CASE WHEN lo IS NULL OR hi IS NULL THEN CAST(NULL AS DOUBLE) "
        "WHEN lo > hi THEN CAST(raise_error('randgen_float64_uniform_expr: min > max') AS DOUBLE) "
        "ELSE rand() * (hi - lo) + lo END"
    ),
    "randgen_float64_normal_expr": (
        "(mean DOUBLE, std DOUBLE) RETURNS DOUBLE RETURN "
        "CASE WHEN mean IS NULL OR std IS NULL THEN CAST(NULL AS DOUBLE) "
        "WHEN std < 0 THEN CAST(raise_error('randgen_float64_normal_expr: std < 0') AS DOUBLE) "
        "ELSE randn() * std + mean END"
    ),
    "randgen_bool_bernoulli_expr": (
        "(p DOUBLE) RETURNS BOOLEAN RETURN "
        "CASE WHEN p IS NULL THEN CAST(NULL AS BOOLEAN) "
        "WHEN p < 0 OR p > 1 THEN CAST(raise_error('randgen_bool_bernoulli_expr: p outside [0,1]') AS BOOLEAN) "
        "ELSE rand() < p END"
    ),
}


def register_sql_fastpaths(spark: SparkSession) -> None:
    """Register the expression fast paths as SQL UDFs (inlined by Catalyst)."""
    for name, body in _SQL_FASTPATHS.items():
        spark.sql(f"CREATE OR REPLACE TEMPORARY FUNCTION {name}{body}")
