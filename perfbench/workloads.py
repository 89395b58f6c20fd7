"""The benchmark's workloads.  Each is a closed loop with one client: the next
operation starts when the previous one has finished.

A workload builds its inputs from the seed (``setup``), warms the JVM
with its own operations (``warm``), runs one timed operation per
``op`` call, and checks the outputs without timing them (``check``).
``warm`` and ``op`` return the key of each operation's output, and
``check`` maps the key of every bad output to what is wrong with it.
Each names the unit its throughput counts.
"""

from __future__ import annotations

import contextlib
import functools
import importlib.util
import os
import subprocess
import sys

# Catalog entries timed by ``catalog_sf0.1``: TPC-H SQL, exact dedup,
# MinHash-LSH near-duplicate search, the declarative synthetic-table
# generator, and the iterative text BPE trainer, graph BFS and dedup
# connected components.  Odd length, so the pooled median latency is one
# entry's, not a mean of two.
CATALOG_ENTRIES = (
    "q1_pricing_summary",
    "d_exact_dedup",
    "d_minhash_lsh_pairs",
    "r_synthetic_table_reproducible",
    "t_bpe_merge_vocab",
    "q_bfs_shortest_path",
    "d_connected_components",
)

# Entries whose operator returns a lazy frame: their span covers the
# whole entry (build and action), so the operator's cost is on record.
ENTRY_LAYER = {
    "d_exact_dedup": "operators.dedup.exact",
    "d_minhash_lsh_pairs": "operators.dedup.minhash",
    "r_synthetic_table_reproducible": "sources.synthetic",
}
MINHASH_THRESHOLD = 0.8  # as d_minhash_lsh_pairs

RANDGEN_ROWS = 8_000_000
RANDGEN_LO, RANDGEN_HI = 1, 1_000


def _noop(df) -> None:
    """Materialize every row without collecting it: the ``noop`` sink
    runs the whole plan, where ``count()`` lets Spark prune columns."""
    df.write.format("noop").mode("overwrite").save()


class Catalog:
    """Fixed list of catalog entries over a seeded sf0.1 fixture."""

    name = "catalog_sf0.1"
    unit = "entries"

    def __init__(self, spark, tracer, work_dir: str, seed: int):
        self.spark, self.tracer = spark, tracer
        self.sf_dir = os.path.join(work_dir, "sf0.1")
        self.seed = seed
        self.bad_entries: dict[str, str] = {}
        self.warm_results: dict[str, tuple] = {}

    def setup(self) -> None:
        """Write the fixture in a child process, so the driver's peak RSS
        is the session's and not the fixture builder's."""
        script = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures.py")
        subprocess.run([sys.executable, script, self.sf_dir, str(self.seed)], check=True)

    def units(self) -> tuple[str, ...]:
        return CATALOG_ENTRIES

    def warm(self) -> list[str]:
        """One pass that collects every entry's rows for the check."""
        from datafusion_randgen_spark.queries import QUERIES

        for entry in CATALOG_ENTRIES:
            try:
                df = QUERIES[entry](self.spark, self.sf_dir)
                self.warm_results[entry] = (df.collect(), df.columns, df.schema)
            except Exception as exc:  # recorded as a failed check, never dropped
                self.bad_entries[entry] = f"raised {type(exc).__name__}: {exc}"
        return list(CATALOG_ENTRIES)

    def op(self, entry: str) -> tuple[int, str]:
        from datafusion_randgen_spark.queries import QUERIES

        layer = ENTRY_LAYER.get(entry)
        with self.tracer.span(layer) if layer else contextlib.nullcontext():
            with self.tracer.span("queries.build"):
                df = QUERIES[entry](self.spark, self.sf_dir)
            with self.tracer.span("queries.action"):
                _noop(df)
        return 1, entry

    def dedup_pairs(self) -> tuple[int, int]:
        """(LSH candidate pairs, verified pairs) of the MinHash entry on
        the fixture's documents, with the operator's default banding;
        counted once, outside any timed operation."""
        from datafusion_randgen_spark.operators import dedup
        from datafusion_randgen_spark.sources import load_table

        docs = load_table(self.spark, self.sf_dir, "documents")
        candidates = dedup.minhash_lsh_candidates(dedup.minhash_signatures(docs)).count()
        verified = dedup.minhash_lsh_dedup_pairs(docs, threshold=MINHASH_THRESHOLD).count()
        return candidates, verified

    def check(self) -> dict[str, str]:
        """Entry -> mismatch, against each entry's DuckDB oracle on the
        same fixture, normalized as the oracle test suite does."""
        from datafusion_randgen_spark.queries import ORACLES

        oracle = _load_oracle_test()
        con = oracle._duck(self.sf_dir)
        for entry, (rows, cols, schema) in self.warm_results.items():
            if entry not in ORACLES:
                if not rows:
                    self.bad_entries[entry] = "no oracle and no rows"
                continue
            try:
                problem = _compare(oracle, con, ORACLES[entry], rows, cols, schema)
            except Exception as exc:
                problem = f"oracle raised {type(exc).__name__}: {exc}"
            if problem:
                self.bad_entries[entry] = problem
        con.close()
        return self.bad_entries


def _load_oracle_test():
    path = os.path.join(os.getcwd(), "tests", "test_oracle.py")
    spec = importlib.util.spec_from_file_location("perfbench_oracle_reference", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def _compare(oracle, con, sql: str, rows, cols, schema) -> str | None:
    table = con.sql(sql).fetch_arrow_table()
    dcols = list(table.column_names)
    if sorted(cols) != sorted(dcols):
        return f"columns {sorted(cols)} != oracle {sorted(dcols)}"
    duck_types = {f.name: f.type for f in table.schema}
    for f in schema.fields:
        s_cat, d_cat = oracle._spark_cat(f.dataType), oracle._arrow_cat(duck_types[f.name])
        if s_cat != d_cat:
            return f"column {f.name}: type {s_cat} != oracle {d_cat}"
    drows = [tuple(d[c] for c in dcols) for d in table.to_pylist()]
    if len(rows) != len(drows):
        return f"{len(rows)} rows != oracle {len(drows)}"
    s_norm, _ = oracle._normalize([tuple(r) for r in rows], cols)
    d_norm, _ = oracle._normalize(drows, dcols)
    bad = sum(1 for a, b in zip(s_norm, d_norm) if a != b)
    return f"{bad} of {len(rows)} rows differ from the oracle" if bad else None


class RandgenWrite:
    """``randgen_int64_uniform`` over ``generate_series`` written to
    parquet: literal bounds, column bounds, and NULL bounds."""

    name = "randgen_write"
    unit = "rows"

    def __init__(self, spark, tracer, work_dir: str, seed: int):
        self.spark, self.tracer, self.seed = spark, tracer, seed
        self.out_root = os.path.join(work_dir, "randgen_out")
        self.outputs: list[str] = []

    def setup(self) -> None:
        from datafusion_randgen_spark import add_udfs

        add_udfs(self.spark)
        # a bound is NULL on rows divisible by its seeded modulus
        self.null_lo, self.null_hi = 89 + self.seed % 7, 97 + self.seed % 5

    def units(self) -> tuple[None]:
        return (None,)

    def _bounds(self, value):
        """(lo, hi) for row ``value``; NULL on seeded residues."""
        from pyspark.sql import functions as F

        lo = F.when(value % self.null_lo == 0, F.lit(None)).otherwise(-value)
        hi = F.when(value % self.null_hi == 0, F.lit(None)).otherwise(value)
        return lo, hi

    def warm(self) -> list[int]:
        return [self.op(None)[1]]

    def op(self, _unit) -> tuple[int, int]:
        from pyspark.sql import functions as F

        from datafusion_randgen_spark.sources import generate_series

        path = os.path.join(self.out_root, f"op{len(self.outputs)}")
        lo, hi = self._bounds(F.col("value"))
        with self.tracer.span("sources.write"):
            generate_series(self.spark, 1, RANDGEN_ROWS).select(
                "value",
                F.expr(f"randgen_int64_uniform({RANDGEN_LO}, {RANDGEN_HI})").alias("lit_draw"),
                F.call_function("randgen_int64_uniform", lo, hi).alias("col_draw"),
            ).write.mode("overwrite").parquet(path)
        self.outputs.append(path)
        if self.tracer.on:
            self.tracer.count("sources.written_mb", _dir_bytes(path) / 1e6)
        return RANDGEN_ROWS, len(self.outputs) - 1

    def check(self) -> dict[int, str]:
        """Read every output back in one job: row count, inclusive
        bounds, NULL in -> NULL out, and draws that are not constant."""
        from pyspark.sql import functions as F

        lo, hi = self._bounds(F.col("value"))
        lit, col = F.col("lit_draw"), F.col("col_draw")
        outputs = [self.spark.read.parquet(p).withColumn("op", F.lit(i)) for i, p in enumerate(self.outputs)]
        rows = (
            functools.reduce(lambda a, b: a.unionByName(b), outputs)
            .groupBy("op")
            .agg(
                F.count("*").alias("n"),
                F.sum(((lit < RANDGEN_LO) | (lit > RANDGEN_HI) | lit.isNull()).cast("long")).alias("lit_out"),
                F.sum((col.isNull() != (lo.isNull() | hi.isNull())).cast("long")).alias("null_mismatch"),
                F.sum(((col < lo) | (col > hi)).cast("long")).alias("col_out"),
                (F.min(lit) < F.max(lit)).alias("lit_varies"),
                (F.min(col) < F.max(col)).alias("col_varies"),
            )
            .collect()
        )
        by_op = {r.op: r for r in rows}
        bad: dict[int, str] = {}
        for i in range(len(self.outputs)):
            r = by_op.get(i)
            if r is None or r.n != RANDGEN_ROWS:
                bad[i] = f"{0 if r is None else r.n} rows read back, expected {RANDGEN_ROWS}"
            elif r.lit_out or r.col_out:
                bad[i] = f"{r.lit_out} literal and {r.col_out} column draws out of bounds"
            elif r.null_mismatch:
                bad[i] = f"{r.null_mismatch} rows break NULL in -> NULL out"
            elif not (r.lit_varies and r.col_varies):
                bad[i] = "draws are constant"
        return bad


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


WORKLOADS = {w.name: w for w in (Catalog, RandgenWrite)}
