"""datafusion_randgen_spark — a PySpark-native rebuild of
``corasaurus-hex/datafusion-randgen`` plus a Spark-first synthetic-data /
LLM-data-pipeline toolkit.

The reference is a random-data-generation extension for Apache DataFusion:
one volatile, vectorized scalar UDF ``randgen_int64_uniform(min, max)``
registered into a ``SessionContext`` (reference ``src/lib.rs:8-10``,
``src/randgen/int64_uniform.rs:17-93``).  This package reproduces that
surface on Spark — ``add_udfs(spark)`` mirrors ``add_udfs(&mut ctx)`` —
and extends it into a full generator family, deterministic (seeded)
JVM-side generators, and large-scale pipeline operators (dedup,
similarity search, text analysis, multimodal columns).

Design notes (Spark-first, not a port):

* The reference function ``randgen_int64_uniform`` is a SQL function
  over ``rand()`` (``functions.exprs.INT64_UNIFORM_SQL``) with the
  reference's semantics — exact inclusive bounds, SQL NULL propagation,
  error on ``min > max`` — so ``spark.sql("SELECT
  randgen_int64_uniform(1, 10) ...")`` works verbatim and runs inside
  whole-stage codegen, with no Python worker, like the reference's
  in-engine kernels (``int64_uniform.rs:106-153``).  Each analysed plan
  fixes its ``rand`` seeds: collecting one DataFrame twice repeats its
  draws; a new query draws afresh.
* The rest of the grid comes in two flavors per distribution:

  - **pandas UDFs** (``functions.randgen``): Arrow-vectorized, NumPy
    samplers, registered under ``randgen_<type>_<distribution>`` names.
  - **expression fast paths** (``functions.exprs``): pure Catalyst
    ``Column`` builders (``F.rand()`` based) that stay inside
    whole-stage codegen — the 100 TB path, no Python worker round-trip.

* Everything downstream is plain ``DataFrame`` ops; Catalyst handles
  pushdown/pruning/broadcast.  RDDs are never used.
"""

from __future__ import annotations

import weakref

from pyspark.sql import SparkSession

__version__ = "0.1.0"

# Sessions whose function registry already holds the randgen UDFs.
_REGISTERED: weakref.WeakSet[SparkSession] = weakref.WeakSet()


def add_udfs(spark: SparkSession) -> None:
    """Register every randgen UDF into ``spark``'s function registry.

    Mirrors the reference entry point ``add_udfs(&mut SessionContext)``
    (``src/lib.rs:8-10``): pure catalog mutation, no execution.

    Idempotent per session: the first call on a ``SparkSession``
    registers, later calls on it return at once.  Each session has its
    own registry, so a new one (``spark.newSession()`` included)
    registers on its first call.
    """
    if spark in _REGISTERED:
        return
    from datafusion_randgen_spark.functions.exprs import register_sql_fastpaths
    from datafusion_randgen_spark.functions.randgen import register_parity_udfs
    from datafusion_randgen_spark.functions.udaf import register_udafs
    from datafusion_randgen_spark.functions.udtf import register_udtfs
    from datafusion_randgen_spark.sources.python_datasource import register_datasources

    register_parity_udfs(spark)
    register_sql_fastpaths(spark)
    register_udtfs(spark)
    register_udafs(spark)
    register_datasources(spark)
    _REGISTERED.add(spark)


__all__ = ["add_udfs", "__version__"]
