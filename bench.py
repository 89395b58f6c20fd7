#!/usr/bin/env python
"""Benchmark harness: times the headline entries at $SPARK_GRAFT_SF_DIR
on local[$SPARK_GRAFT_CPUS] and reports only what this run measured.

Usage:
  python bench.py

Environment (the only two options):
  SPARK_GRAFT_SF_DIR  input dataset directory, named ``sf<N>``
                      (default ``DEFAULT_SF_DIR``)
  SPARK_GRAFT_CPUS    core count for local[N]; default: the cores this
                      process may run on.  Must be a positive integer.

The heap is a share of the host's available memory (perfbench's
``heap_mb``), and every directory Spark writes lives in a temporary work
directory outside the checkout, removed at exit.

Method:
  1. page the input parquet files into the OS cache (untimed);
  2. run every entry once at the sibling ``sf0.001`` directory (untimed),
     so each entry's per-JVM codegen compile is paid before timing
     (the probes, which read no input, run at ``WARM_ROW_SHARE`` of
     their rows with the same plan shape);
  3. run ``REPS`` passes over all entries, each pass in a seeded
     shuffled order so no entry sits in the same wall-clock slot of
     every pass.  Every entry gets the same rep count.

Each timed rep builds the entry's frame and writes it to the ``noop``
sink, which runs the whole plan (``count()`` lets Spark prune columns and
aggregates).  An entry that raises is reported with its traceback and is
not run again.

Output: per-entry median, max and n on stderr, then one JSON line on
stdout: ``metric``, ``value`` (sum of the medians in ``queries``),
``unit``, ``queries``, ``sf``, ``cpus``, ``reps``, ``code_hash``,
``attempted`` and ``failed``.  Exit status 1 when any entry failed.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import hashlib
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time
import traceback

from perfbench.session import (
    build_session,
    heap_mb,
    host_cores,
    mem_available_mb,
    stop_session,
)

DEFAULT_SF_DIR = "/root/testdata/sf0.1"
REPS = 3
SHUFFLE_SEED = 16
# The codegen warm pass runs the probes at this share of their rows.
# Codegen follows plan shape (partition counts, the hash chain), not
# size, so the small pass compiles what the timed probes run.
WARM_ROW_SHARE = 0.01
# The result is read from the last ~2000 chars of stdout.
LINE_CAP = 1400

# The headline set: the generation-heavy flagship, raw generation
# throughput through both the Catalyst and the pandas-UDF paths, one or
# more entries per operator family, and a compute-bound core-scaling
# probe, so a regression in any family moves the total.
HEADLINE = (
    "flagship_randgen_graft",
    "gen_expr_5m_rows",
    "gen_pandas_udf_1m_rows",
    "q1_pricing_summary",
    "q3_topk_revenue",
    "q5_regional_revenue",
    "q_window_topk_per_group",
    "q8_market_share",
    "q_sessionization",
    "q_asof_join",
    "d_exact_dedup",
    "d_minhash_lsh_pairs",
    "d_connected_components",
    "d_embedding_near_dup",
    "s_ann_bruteforce_topk",
    "s_ann_ivf_recall",
    "t_token_stats",
    "p_training_data_prep",
    "q_pagerank_transitions",
    "s_kmeans_embeddings",
    "d_contamination_check",
    "q_exact_pctl_histogram",
    "q_sparse_matmul",
    "q_bfs_shortest_path",
    "q_ewma_smoothing",
    "q_forward_fill_locf",
    "q_median_impute",
    "d_simhash_r6",
    "t_dup_span_coverage",
    "q_rfm_segmentation",
    "d_winnowing_fingerprints",
    "d_exact_substring_spans",
    "d_semantic_dedup",
    "d_snapshot_dedup",
    "t_bpe_merge_vocab",
    "d_skewed_digest_dedup",
    "cpu_scaling_probe",
)


def gen_probe(spark, _sf_dir, row_share=1.0):
    """Raw generation throughput: 5M rows × 4 randgen columns via the
    pure-Catalyst fast path (the 100 TB generation shape)."""
    from pyspark.sql import functions as F

    from datafusion_randgen_spark.functions import exprs, seeded

    cores = spark.sparkContext.defaultParallelism
    df = spark.range(0, int(5_000_000 * row_share), 1, cores).select(
        exprs.int64_uniform_expr(F.lit(1), F.lit(1_000_000)).alias("a"),
        exprs.float64_normal_expr(F.lit(0.0), F.lit(1.0)).alias("b"),
        seeded.seeded_int64_uniform(F.col("id"), 1, 100, seed=1).alias("c"),
        exprs.bool_bernoulli_expr(F.lit(0.5)).alias("d"),
    )
    return df.selectExpr(
        "count(*) AS n", "min(a) AS lo", "max(a) AS hi", "avg(b) AS m"
    )


def gen_probe_pandas_udf(spark, _sf_dir, row_share=1.0):
    """pandas-UDF path at 1M rows: ``randgen_float64_uniform``, so the
    entry times the Arrow round trip to the Python worker
    (``randgen_int64_uniform`` runs in whole-stage codegen)."""
    from datafusion_randgen_spark import add_udfs

    add_udfs(spark)
    return spark.sql(
        "SELECT count(*) AS n, min(x) AS lo, max(x) AS hi FROM "
        "(SELECT randgen_float64_uniform(0, 1) AS x "
        f"FROM range(0, {int(1_000_000 * row_share)}))"
    )


def cpu_scaling_probe(spark, _sf_dir, row_share=1.0):
    """Compute-bound core-scaling probe: a fixed amount of
    embarrassingly-parallel JVM codegen work — 64M rows × a 24-round
    xxhash64 chain, partitioned 4× the session's cores, reduced map-side
    to 64 groups.  Every other sf0.1 entry is bound by per-entry
    overhead (~17 MB of data), so this is the one entry whose runtime is
    expected to follow the core count.  Total work is the same at every
    core count; only the partition count follows it.

    The hash chain feeds the GROUP KEY (pmod 64), not an ungrouped
    aggregate: Spark prunes a global aggregate's functions when only the
    row count is read (measured under ``count()``: 0.31 s pruned vs
    2.94 s computed at 8 cores).  With the chain in the key, even the
    number of output rows depends on every hash."""
    from pyspark.sql import functions as F

    h = F.col("id")
    for i in range(24):
        h = F.xxhash64(h, F.lit(i))
    cores = spark.sparkContext.defaultParallelism
    return (
        spark.range(0, int(64_000_000 * row_share), 1, cores * 4)
        .groupBy(F.pmod(h, F.lit(64)).alias("g"))
        .agg(F.count("*").alias("n"))
    )


PROBES = {
    "gen_expr_5m_rows": gen_probe,
    "gen_pandas_udf_1m_rows": gen_probe_pandas_udf,
    "cpu_scaling_probe": cpu_scaling_probe,
}


def entry_fn(name: str):
    """The ``(spark, sf_dir) -> DataFrame`` builder of a headline entry."""
    if name in PROBES:
        return PROBES[name]
    from datafusion_randgen_spark import queries as cat

    if name == "flagship_randgen_graft":
        return cat.flagship
    return cat.QUERIES[name]


def warm_fn(name: str):
    """The codegen warm pass's builder of a headline entry: a probe at
    ``WARM_ROW_SHARE`` of its rows, any other entry as timed (its size
    comes from the warm pass's sf0.001 input)."""
    if name in PROBES:
        return functools.partial(PROBES[name], row_share=WARM_ROW_SHARE)
    return entry_fn(name)


def parse_cpus(value: str | None) -> int:
    """Core count from ``$SPARK_GRAFT_CPUS``: the host's usable cores
    when unset or empty, else a positive integer (ValueError otherwise)."""
    if value is None or not value.strip():
        return host_cores()
    try:
        cores = int(value)
    except ValueError:
        cores = 0
    if cores < 1:
        raise ValueError(
            f"SPARK_GRAFT_CPUS must be a positive integer, got {value!r}"
        )
    return cores


def compute_code_hash(repo_dir: str) -> str:
    """12-hex sha256 over the package sources and bench.py, so a printed
    result names the code that produced it.  A source file that exists
    but cannot be read salts the hash with a random nonce, so the hash
    matches no other run (not even a second call on the same tree); each
    such path is warned to stderr."""
    h = hashlib.sha256()
    paths = sorted(
        glob.glob(
            os.path.join(repo_dir, "datafusion_randgen_spark", "**", "*.py"),
            recursive=True,
        )
    ) + [os.path.join(repo_dir, "bench.py")]
    for p in paths:
        rel = os.path.relpath(p, repo_dir)
        try:
            with open(p, "rb") as fh:
                data = fh.read()
        except OSError:
            data = b"<unreadable>" + os.urandom(16)
            print(
                f"[bench] WARNING: unreadable source {rel} — "
                "code_hash salted, it matches no other run",
                file=sys.stderr,
            )
        h.update(rel.encode())
        h.update(b"\0")
        h.update(data)
        h.update(b"\0")
    return h.hexdigest()[:12]


def shuffled_pass_order(names, seed, pass_index) -> list[str]:
    """The entry order of one pass: a seeded shuffle, deterministic for
    ``(seed, pass_index)``.  With one fixed order, heavy entries hold the
    same wall-clock slot in every pass, so drift that builds up through
    a pass (GC pressure, a co-tenant burst) lands on the same entries
    every time and survives the median."""
    rng = random.Random(f"{seed}:{pass_index}")
    return rng.sample(list(names), len(names))


def default_warm_dir(sf_dir: str) -> str:
    """The codegen warm pass's input: the sf0.001 sibling of ``sf_dir``."""
    return os.path.join(
        os.path.dirname(os.path.abspath(sf_dir.rstrip("/"))), "sf0.001"
    )


def warm_page_cache(path: str) -> int:
    """Read every byte under ``path`` once (untimed), so the timed reps
    do not pay cold-cache reads; returns the bytes read.  A ``.parquet``
    entry may be a directory."""
    if os.path.isdir(path):
        return sum(
            warm_page_cache(os.path.join(path, sub))
            for sub in sorted(os.listdir(path))
        )
    n = 0
    with open(path, "rb") as fh:
        while chunk := fh.read(1 << 22):
            n += len(chunk)
    return n


def materialize(df) -> None:
    """Run the whole plan without collecting rows: the ``noop`` sink."""
    df.write.format("noop").mode("overwrite").save()


def time_entry(spark, fn, sf_dir: str) -> float:
    """Seconds to build one entry's frame and run it to the noop sink.
    Caches left by an earlier entry are dropped first, so no entry rides
    another's persisted intermediates."""
    spark.catalog.clearCache()
    t0 = time.perf_counter()
    materialize(fn(spark, sf_dir))
    return time.perf_counter() - t0


def run_passes(spark, fns: dict, sf_dir: str, reps: int, seed: int):
    """``reps`` seeded-shuffled passes over ``fns`` (name -> builder).

    Returns ``(runs, failed)``: the seconds of every completed rep per
    name, and the names that raised.  A failure's traceback goes to
    stderr and its entry is not run again."""
    runs: dict[str, list[float]] = {n: [] for n in fns}
    failed: list[str] = []
    for p in range(reps):
        t_pass = time.perf_counter()
        for name in shuffled_pass_order(fns, seed, p):
            if name in failed:
                continue
            try:
                runs[name].append(time_entry(spark, fns[name], sf_dir))
            except Exception:  # one broken entry must not end the run
                failed.append(name)
                print(f"# FAILED {name} (pass {p + 1}):", file=sys.stderr)
                traceback.print_exc(file=sys.stderr)
        print(
            f"# pass {p + 1}/{reps}: "
            f"{time.perf_counter() - t_pass:.1f}s",
            file=sys.stderr,
        )
    return runs, failed


def sf_of(sf_dir: str):
    """The scale factor named by ``sf_dir`` (``.../sf0.1`` -> 0.1)."""
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        return float(sf)
    except ValueError:
        return sf


def render_line(payload: dict) -> str:
    """The stdout result line; compact, so every median fits the cap."""
    line = json.dumps(payload, separators=(",", ":"))
    if len(line) > LINE_CAP:
        raise ValueError(
            f"stdout line is {len(line)} chars, over the {LINE_CAP} cap"
        )
    return line


@contextlib.contextmanager
def bench_session(cores: int):
    """A local[cores] session sized from the host, with its work
    directory in the system temp dir; both are removed on exit."""
    heap = heap_mb(mem_available_mb())
    work_dir = tempfile.mkdtemp(prefix="bench-")
    print(
        f"# local[{cores}], heap {heap} MB, work dir {work_dir}",
        file=sys.stderr,
    )
    try:
        spark = build_session(work_dir, cores, heap)
        try:
            yield spark
        finally:
            stop_session(spark)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)


def main() -> int:
    here = os.path.dirname(os.path.abspath(__file__))
    # Python workers unpickle package UDFs too; they read PYTHONPATH, not
    # the driver's sys.path, so it must be set before the JVM starts
    if here not in os.environ.get("PYTHONPATH", "").split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            here + os.pathsep + os.environ.get("PYTHONPATH", "")
        ).rstrip(os.pathsep)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    try:
        cores = parse_cpus(os.environ.get("SPARK_GRAFT_CPUS"))
    except ValueError as exc:
        print(f"bench: {exc}", file=sys.stderr)
        return 2
    code_hash = compute_code_hash(here)
    fns = {name: entry_fn(name) for name in HEADLINE}

    t_run = time.perf_counter()
    with bench_session(cores) as spark:
        warm_bytes = sum(
            warm_page_cache(p)
            for p in sorted(glob.glob(os.path.join(sf_dir, "*.parquet")))
        )
        print(f"# page-cache warm-up: {warm_bytes} bytes", file=sys.stderr)

        # Codegen source depends on plan shape, not data volume, so the
        # sf0.001 compile serves the timed run.
        warm_dir = default_warm_dir(sf_dir)
        if os.path.isdir(warm_dir) and os.path.abspath(warm_dir) != \
                os.path.abspath(sf_dir):
            t_warm = time.perf_counter()
            for name in HEADLINE:
                try:
                    materialize(warm_fn(name)(spark, warm_dir))
                except Exception as exc:  # the timed pass reports it
                    print(f"# warm pass {name} raised: {exc!r}",
                          file=sys.stderr)
            spark.catalog.clearCache()
            print(
                f"# codegen warm pass at {warm_dir}: "
                f"{time.perf_counter() - t_warm:.1f}s",
                file=sys.stderr,
            )
        else:
            print(
                f"# codegen warm pass SKIPPED: no separate {warm_dir}; "
                "first reps carry codegen compiles",
                file=sys.stderr,
            )

        runs, failed = run_passes(spark, fns, sf_dir, REPS, SHUFFLE_SEED)

    queries = {}
    for name in HEADLINE:
        r = runs[name]
        times = (
            f"median {statistics.median(r):.3f}s max {max(r):.3f}s " if r else ""
        )
        status = "FAILED" if name in failed else "ok"
        print(f"# {name}: {times}n {len(r)} {status}", file=sys.stderr)
        if name not in failed:
            queries[name] = round(statistics.median(r), 3)
    print(f"# wall {time.perf_counter() - t_run:.1f}s", file=sys.stderr)
    payload = {
        "metric": "headline_queries_total_runtime",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "sf": sf_of(sf_dir),
        "cpus": cores,
        "reps": REPS,
        "code_hash": code_hash,
        "attempted": len(HEADLINE),
        "failed": len(failed),
    }
    print(render_line(payload))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
