"""Randgen distribution grid — Arrow-vectorized pandas UDFs.

The reference's single function, ``randgen_int64_uniform`` (reference
``src/randgen/int64_uniform.rs:17-153``), is not here: it is a SQL
function over ``rand()`` (``functions.exprs.INT64_UNIFORM_SQL``) that
Catalyst inlines into whole-stage codegen, so it never crosses the
Python-worker boundary.  This module extends it to the
``<type>_<distribution>`` grid the reference's module layout implies
(``src/randgen/mod.rs:1``, empty ``macros.rs`` placeholder), with the
same semantics:

* **NULL propagation** — NULL in a parameter → NULL out, per row
  (``int64_uniform.rs:96-103,110-111,127-128``; tests ``:222-275``).
  Unlike the reference's array kernels we never evaluate the sampler on
  null slots (the reference would panic on a null-min row with
  ``max < 0`` — an implementation wart SURVEY.md §2.3 says not to copy).
* **Invalid parameters are an error** — the reference panics
  (``Uniform::new_inclusive(..).unwrap()``); we raise ``ValueError``
  with a clear message, checked per valid row.
* **Volatile** — ``Volatility::Volatile`` (``int64_uniform.rs:23``)
  maps to ``.asNondeterministic()``: Catalyst will not constant-fold,
  CSE, or push the call through filters/joins.
* **Fresh value per row even for literal args** — the reference's
  const×const arm returns a single ``Scalar`` broadcast over the batch
  (``int64_uniform.rs:68-75``); SURVEY.md §4 flags this as a quirk not
  to replicate; here literals arrive as full-length Series, so every row
  is an independent draw.

Scale note: each UDF is one NumPy call per Arrow batch — the same
per-batch vectorization as the reference's ``compute::unary`` kernels.
Generation is embarrassingly parallel across partitions; there is no
shuffle anywhere in this module.  For generation-dominated pipelines at
the 100 TB end prefer the pure-Catalyst builders in
``datafusion_randgen_spark.functions.exprs`` (no Python worker
round-trip, whole-stage codegen).
"""

from __future__ import annotations

import string

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# One generator per Python worker process; os-entropy seeded => independent
# streams per worker without coordination.  Volatile semantics mean callers
# must NOT rely on reproducibility here (use functions.seeded for that).
_RNG: np.random.Generator | None = None


def _rng() -> np.random.Generator:
    global _RNG
    if _RNG is None:
        _RNG = np.random.default_rng()
    return _RNG


def _int64_parts(s: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """Split a possibly-null int64-ish Series into (values, null_mask).

    Null slots are filled with 0 so vectorized sampling never sees an
    invalid bound (the reference's kernels sample the underlying buffer
    on null slots — a hazard we deliberately avoid, SURVEY.md §2.3).
    """
    if pd.api.types.is_float_dtype(s.dtype):
        # Legacy Arrow -> pandas path turned nullable int64 into float64
        # with NaN.  PySpark 4.1 delivers pd.Int64Dtype instead (branch
        # below — exact for the full i64 range).  If a float64 Series
        # DOES arrive here, |values| > 2^53 have already lost precision
        # upstream — nothing to recover in-kernel.
        mask = np.isnan(s.to_numpy(dtype="float64", copy=False))
        vals = s.fillna(0).to_numpy(dtype="float64").astype(np.int64)
    elif isinstance(s.dtype, pd.Int64Dtype):
        mask = s.isna().to_numpy()
        vals = s.fillna(0).to_numpy(dtype="int64")
    elif s.dtype == object:
        mask = s.isna().to_numpy()
        vals = s.fillna(0).astype("int64").to_numpy()
    else:
        mask = np.zeros(len(s), dtype=bool)
        vals = s.to_numpy(dtype="int64", copy=False)
    return vals, mask


def _float64_parts(s: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    vals = s.to_numpy(dtype="float64", na_value=np.nan)
    mask = np.isnan(vals)
    return np.where(mask, 0.0, vals), mask


def _masked_int_result(vals: np.ndarray, mask: np.ndarray) -> pd.Series:
    if mask.any():
        return pd.Series(vals, dtype="Int64").mask(pd.Series(mask))
    return pd.Series(vals)


# ---------------------------------------------------------------------------
# extension grid (SURVEY.md §2.D): <type>_<distribution>
# ---------------------------------------------------------------------------

def _float64_uniform_kernel(lo: pd.Series, hi: pd.Series) -> pd.Series:
    lo_v, lo_m = _float64_parts(lo)
    hi_v, hi_m = _float64_parts(hi)
    mask = lo_m | hi_m
    if np.any(~mask & (lo_v > hi_v)):
        raise ValueError("randgen_float64_uniform: invalid range min > max")
    # np.uniform(lo, lo) == lo, so degenerate ranges need no special case.
    out = _rng().uniform(np.where(mask, 0.0, lo_v), np.where(mask, 1.0, hi_v))
    return pd.Series(np.where(mask, np.nan, out))


def _float64_normal_kernel(mean: pd.Series, std: pd.Series) -> pd.Series:
    m_v, m_m = _float64_parts(mean)
    s_v, s_m = _float64_parts(std)
    mask = m_m | s_m
    if np.any(~mask & (s_v < 0)):
        raise ValueError("randgen_float64_normal: std must be >= 0")
    out = _rng().normal(m_v, np.where(mask, 1.0, s_v))
    return pd.Series(np.where(mask, np.nan, out))


def _int64_normal_kernel(mean: pd.Series, std: pd.Series) -> pd.Series:
    out = _float64_normal_kernel(mean, std)
    vals = out.to_numpy()
    mask = np.isnan(vals)
    return _masked_int_result(np.where(mask, 0, np.rint(vals)).astype(np.int64), mask)


def _bool_bernoulli_kernel(p: pd.Series) -> pd.Series:
    p_v, mask = _float64_parts(p)
    if np.any(~mask & ((p_v < 0.0) | (p_v > 1.0))):
        raise ValueError("randgen_bool_bernoulli: p must be in [0, 1]")
    draw = _rng().random(len(p_v)) < p_v
    if mask.any():
        return pd.Series(draw, dtype="boolean").mask(pd.Series(mask))
    return pd.Series(draw)


_ALPHA = np.frombuffer(string.ascii_lowercase.encode(), dtype=np.uint8)


def _string_alpha_kernel(length: pd.Series) -> pd.Series:
    n_v, mask = _int64_parts(length)
    if np.any(~mask & (n_v < 0)):
        raise ValueError("randgen_string_alpha: length must be >= 0")
    n_v = np.where(mask, 0, n_v)
    total = int(n_v.sum())
    flat = _ALPHA[_rng().integers(0, 26, size=total)]
    out = np.empty(len(n_v), dtype=object)
    pos = 0
    for i, n in enumerate(n_v):  # split points only; chars drawn vectorized
        out[i] = flat[pos : pos + n].tobytes().decode("ascii")
        pos += n
    res = pd.Series(out)
    return res.mask(pd.Series(mask)) if mask.any() else res


def _timestamp_uniform_kernel(lo: pd.Series, hi: pd.Series) -> pd.Series:
    lo_us = pd.Series(pd.to_datetime(lo).astype("datetime64[us]").to_numpy().view("int64"))
    hi_us = pd.Series(pd.to_datetime(hi).astype("datetime64[us]").to_numpy().view("int64"))
    lo_mask = pd.isna(lo).to_numpy()
    hi_mask = pd.isna(hi).to_numpy()
    mask = lo_mask | hi_mask
    lo_v = np.where(lo_mask, 0, lo_us.to_numpy())
    hi_v = np.where(hi_mask, 0, hi_us.to_numpy())
    if np.any(~mask & (lo_v > hi_v)):
        raise ValueError("randgen_timestamp_uniform: invalid range min > max")
    lo_v = np.where(mask, 0, lo_v)
    hi_v = np.where(mask, 0, hi_v)
    out = _rng().integers(lo_v, hi_v, endpoint=True, dtype=np.int64)
    ts = pd.Series(out.view("datetime64[us]"))
    return ts.mask(pd.Series(mask)) if mask.any() else ts


def _int64_poisson_kernel(lam: pd.Series) -> pd.Series:
    """Poisson(λ) — no closed-form inverse CDF, so this lives only in the
    pandas family (NumPy's transformed-rejection sampler); the exprs fast
    path intentionally omits it."""
    l_v, mask = _float64_parts(lam)
    if np.any(~mask & (l_v < 0)):
        raise ValueError("randgen_int64_poisson: lambda must be >= 0")
    out = _rng().poisson(np.where(mask, 0.0, l_v)).astype(np.int64)
    return _masked_int_result(out, mask)


def _float64_exponential_kernel(rate: pd.Series) -> pd.Series:
    r_v, mask = _float64_parts(rate)
    if np.any(~mask & (r_v <= 0)):
        raise ValueError("randgen_float64_exponential: rate must be > 0")
    out = _rng().exponential(1.0 / np.where(mask, 1.0, r_v))
    return pd.Series(np.where(mask, np.nan, out))


def _element_from_kernel(arr: pd.Series) -> pd.Series:
    # Type-agnostic kernel shared by every randgen_element_from_<type>
    # registration.  Spark scalar UDFs are monomorphic (one return type
    # per catalog name), so the reference's by-type dispatch arms
    # (int64_uniform.rs:76-89) map to one registered name per element
    # type — same sampling code, different declared result.  The
    # volatile Catalyst fast path (exprs.element_from_expr) is generic
    # over ANY element type and is the preferred form.
    # arr: Series of lists / ndarrays; NULL array or empty array -> NULL.
    # Ragged fancy-indexing (the _string_alpha_kernel shape): the only
    # per-row Python work is computing split points; the draws and the
    # element gather are single vectorized ops over a concatenated
    # values array.  A NULL array slot arrives as None or a float NaN
    # (explicit ``a != a`` — a real float-typed ARRAY cell is a
    # list/ndarray, never a bare float, and NaN *elements* inside an
    # array are legitimate sample values).
    vals = arr.to_numpy(dtype=object, copy=False)
    n = len(vals)
    null = np.fromiter(
        (a is None or (isinstance(a, float) and a != a) for a in vals),
        dtype=bool,
        count=n,
    )
    lens = np.fromiter(
        (0 if null[i] else len(vals[i]) for i in range(n)),
        dtype=np.int64,
        count=n,
    )
    picks = _rng().integers(0, np.maximum(lens, 1))
    out = np.full(n, None, dtype=object)
    nonempty = lens > 0
    if nonempty.any():
        flat = np.concatenate(
            [np.asarray(v, dtype=object) for v, ne in zip(vals, nonempty) if ne]
        )
        starts = np.cumsum(lens[nonempty]) - lens[nonempty]
        out[nonempty] = flat[starts + picks[nonempty]]
    return pd.Series(out)


def _float64_gamma_kernel(shape: pd.Series, scale: pd.Series) -> pd.Series:
    """Gamma(shape k, scale theta): mean k*theta, var k*theta^2."""
    k_v, k_m = _float64_parts(shape)
    t_v, t_m = _float64_parts(scale)
    mask = k_m | t_m
    if np.any(~mask & ((k_v <= 0) | (t_v <= 0))):
        raise ValueError("randgen_float64_gamma: shape and scale must be > 0")
    out = _rng().gamma(np.where(mask, 1.0, k_v), np.where(mask, 1.0, t_v))
    return pd.Series(np.where(mask, np.nan, out))


def _float64_beta_kernel(a: pd.Series, b: pd.Series) -> pd.Series:
    """Beta(a, b) on (0, 1): mean a/(a+b)."""
    a_v, a_m = _float64_parts(a)
    b_v, b_m = _float64_parts(b)
    mask = a_m | b_m
    if np.any(~mask & ((a_v <= 0) | (b_v <= 0))):
        raise ValueError("randgen_float64_beta: a and b must be > 0")
    out = _rng().beta(np.where(mask, 1.0, a_v), np.where(mask, 1.0, b_v))
    return pd.Series(np.where(mask, np.nan, out))


def _float64_laplace_kernel(loc: pd.Series, scale: pd.Series) -> pd.Series:
    """Laplace(loc mu, scale b): mean mu, var 2*b^2 — the additive-noise
    distribution of differential privacy."""
    l_v, l_m = _float64_parts(loc)
    s_v, s_m = _float64_parts(scale)
    mask = l_m | s_m
    if np.any(~mask & (s_v <= 0)):
        raise ValueError("randgen_float64_laplace: scale must be > 0")
    out = _rng().laplace(np.where(mask, 0.0, l_v), np.where(mask, 1.0, s_v))
    return pd.Series(np.where(mask, np.nan, out))


def _int64_geometric_kernel(p: pd.Series) -> pd.Series:
    """Geometric(p), support {1, 2, ...}: trials to first success, mean
    1/p — the retry/hop-count generator."""
    p_v, p_m = _float64_parts(p)
    if np.any(~p_m & ((p_v <= 0) | (p_v > 1))):
        raise ValueError("randgen_int64_geometric: p must be in (0, 1]")
    out = _rng().geometric(np.where(p_m, 0.5, p_v)).astype(np.int64)
    return _masked_int_result(out, p_m)


randgen_float64_uniform = F.pandas_udf(_float64_uniform_kernel, T.DoubleType()).asNondeterministic()
randgen_float64_normal = F.pandas_udf(_float64_normal_kernel, T.DoubleType()).asNondeterministic()
randgen_int64_normal = F.pandas_udf(_int64_normal_kernel, T.LongType()).asNondeterministic()
randgen_bool_bernoulli = F.pandas_udf(_bool_bernoulli_kernel, T.BooleanType()).asNondeterministic()
randgen_string_alpha = F.pandas_udf(_string_alpha_kernel, T.StringType()).asNondeterministic()
randgen_timestamp_uniform = F.pandas_udf(_timestamp_uniform_kernel, T.TimestampType()).asNondeterministic()
randgen_element_from_string = F.pandas_udf(_element_from_kernel, T.StringType()).asNondeterministic()
randgen_element_from_int64 = F.pandas_udf(_element_from_kernel, T.LongType()).asNondeterministic()
randgen_element_from_float64 = F.pandas_udf(_element_from_kernel, T.DoubleType()).asNondeterministic()
randgen_int64_poisson = F.pandas_udf(_int64_poisson_kernel, T.LongType()).asNondeterministic()
randgen_float64_exponential = F.pandas_udf(_float64_exponential_kernel, T.DoubleType()).asNondeterministic()
randgen_float64_gamma = F.pandas_udf(_float64_gamma_kernel, T.DoubleType()).asNondeterministic()
randgen_float64_beta = F.pandas_udf(_float64_beta_kernel, T.DoubleType()).asNondeterministic()
randgen_float64_laplace = F.pandas_udf(_float64_laplace_kernel, T.DoubleType()).asNondeterministic()
randgen_int64_geometric = F.pandas_udf(_int64_geometric_kernel, T.LongType()).asNondeterministic()


_PARITY_UDFS = {
    "randgen_float64_uniform": randgen_float64_uniform,
    "randgen_float64_normal": randgen_float64_normal,
    "randgen_int64_normal": randgen_int64_normal,
    "randgen_bool_bernoulli": randgen_bool_bernoulli,
    "randgen_string_alpha": randgen_string_alpha,
    "randgen_timestamp_uniform": randgen_timestamp_uniform,
    "randgen_element_from_string": randgen_element_from_string,
    "randgen_element_from_int64": randgen_element_from_int64,
    "randgen_element_from_float64": randgen_element_from_float64,
    "randgen_int64_poisson": randgen_int64_poisson,
    "randgen_float64_exponential": randgen_float64_exponential,
    "randgen_float64_gamma": randgen_float64_gamma,
    "randgen_float64_beta": randgen_float64_beta,
    "randgen_float64_laplace": randgen_float64_laplace,
    "randgen_int64_geometric": randgen_int64_geometric,
}


def register_parity_udfs(spark: SparkSession) -> None:
    """Register the pandas-UDF grid into the session catalog; after
    this, every function is callable from ``spark.sql`` by name.
    ``randgen_int64_uniform`` itself is registered by
    ``exprs.register_sql_fastpaths``.
    """
    for name, udf in _PARITY_UDFS.items():
        spark.udf.register(name, udf)
