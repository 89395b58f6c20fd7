#!/usr/bin/env python
"""One-off measurement (VERDICT r9 task 2): the interpreted Catalyst
HOF SimHash fold vs a vectorized mapInArrow NumPy variant, at the
200k-doc smoke scale, for short (8-token) and long (~48-token) docs.

Both variants are the same zero-shuffle row-local shape; the NumPy one
keeps token hashing JVM-side (``transform(..., xxhash64)``) so its
fingerprints are value-identical — only the 64-lane vote accumulation
moves to a vectorized kernel across the Arrow boundary.

The session is bench.py's: local[<host cores>], the heap a share of
available memory, and its work directory in the system temp dir,
removed at exit.

Run:  python scripts/measure_simhash_kernels.py
"""

from __future__ import annotations

import os
import statistics
import sys
import time

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if HERE not in sys.path:
    sys.path.insert(0, HERE)
if HERE not in os.environ.get("PYTHONPATH", "").split(os.pathsep):
    os.environ["PYTHONPATH"] = (
        HERE + os.pathsep + os.environ.get("PYTHONPATH", "")
    ).rstrip(os.pathsep)

import bench  # noqa: E402
from datafusion_randgen_spark.operators import dedup  # noqa: E402

N_DOCS = 200_000
REPS = 3


def simhash_arrow(docs: DataFrame, text_col="text", id_col="doc_id", seed=0) -> DataFrame:
    """Hybrid kernel: JVM tokenize+xxhash64, NumPy 64-lane vote fold."""
    from datafusion_randgen_spark.functions.text import tokens

    par = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par)
    hashed = docs.select(
        F.col(id_col).alias("id"),
        F.transform(
            tokens(F.lower(F.col(text_col))),
            lambda t: F.xxhash64(t, F.lit(seed).cast("long")),
        ).alias("th"),
    ).filter(F.size("th") > 0)

    def kernel(batches):
        lanes = np.arange(64, dtype=np.uint64)
        for b in batches:
            ids = b.column("id")
            flat = b.column("th")
            vals = flat.values.to_numpy(zero_copy_only=False).astype(np.uint64)
            offs = flat.offsets.to_numpy(zero_copy_only=False)
            # offsets are absolute into the (possibly shared) child
            # buffer — slice to this batch's window and rebase
            vals = vals[offs[0]:offs[-1]]
            starts = (offs[:-1] - offs[0]).astype(np.int64)
            # bit matrix: (n_tokens, 64) of +1/-1 votes
            bits = ((vals[:, None] >> lanes) & np.uint64(1)).astype(np.int64)
            votes = 2 * bits - 1
            seg = np.add.reduceat(votes, starts, axis=0)
            # reduceat quirk: empty segments copy the next row — filtered
            # upstream (size(th) > 0), so every segment is non-empty
            fp = ((seg > 0).astype(np.uint64) << lanes).sum(axis=1).astype(np.int64)
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(fp, type=pa.int64())],
                names=["id", "simhash"],
            )

    return hashed.mapInArrow(kernel, "id bigint, simhash bigint")


def make_docs(spark, words: int):
    from datafusion_randgen_spark.sources.synthetic import synthetic_table

    length = max(40, words * 5)
    return (
        synthetic_table(
            spark, N_DOCS,
            {"w1": {"kind": "string_alpha", "length": length}},
            seed=11, num_partitions=16,
        )
        .select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                " ", *[F.substring("w1", i * 5 + 1, 5) for i in range(words)]
            ).alias("text"),
        )
        .localCheckpoint(eager=True)
    )


def timeit(fn, docs):
    runs = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        fn(docs).selectExpr("count(*) AS n", "bit_xor(simhash) AS s").collect()
        runs.append(time.perf_counter() - t0)
    return round(statistics.median(runs), 3), [round(r, 3) for r in runs]


def main():
    with bench.bench_session(bench.host_cores()) as spark:
        measure(spark)


def measure(spark):
    for words in (8, 48):
        docs = make_docs(spark, words)
        n = docs.count()
        # parity check first: identical fingerprints
        a = dedup.simhash(docs).selectExpr("bit_xor(simhash) AS s", "count(*) AS n").collect()[0]
        b = simhash_arrow(docs).selectExpr("bit_xor(simhash) AS s", "count(*) AS n").collect()[0]
        ok = (a.s == b.s) and (a.n == b.n)
        hof, hof_runs = timeit(lambda d: dedup.simhash(d), docs)
        arrow, arrow_runs = timeit(simhash_arrow, docs)
        print(
            f"words={words} n={n} parity={'OK' if ok else 'MISMATCH ' + str((a, b))} "
            f"HOF={hof}s {hof_runs} mapInArrow={arrow}s {arrow_runs} "
            f"ratio(HOF/arrow)={round(hof / arrow, 2)}"
        )
        docs.unpersist()


if __name__ == "__main__":
    main()
