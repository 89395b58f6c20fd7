#!/usr/bin/env python
"""Dump ``explain("formatted")`` for bench headline entries into
``plans/r<N>/<name>_<tag>.txt`` (optimization-round evidence: the judge
checks plan claims against these files without running Spark).

Usage:
  python scripts/dump_plans.py <tag> [entry ...]

``tag`` is typically ``before`` or ``after``.  With no entries named,
dumps every entry of ``bench.HEADLINE``.  The session is bench.py's
(cores from ``$SPARK_GRAFT_CPUS`` or the host, heap from available
memory).  Round: CORRECTNESS_rN present without BENCH_rN => round N.

NOTE: explain() prints the INITIAL AQE plan (isFinalPlan=false) — join
strategies AQE rewrites at runtime won't show; Exchange counts,
PushedFilters/ReadSchema, and Python-eval nodes do.  Queries that run
driver loops (BFS, kmeans, BPE) execute their loop during plan
construction; their dump is the RETURNED frame's plan plus a header
noting the loop structure is in the code, not one plan.
"""

from __future__ import annotations

import glob
import os
import re
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if HERE not in sys.path:
    sys.path.insert(0, HERE)
if HERE not in os.environ.get("PYTHONPATH", "").split(os.pathsep):
    os.environ["PYTHONPATH"] = (
        HERE + os.pathsep + os.environ.get("PYTHONPATH", "")
    ).rstrip(os.pathsep)

import bench  # noqa: E402


def _infer_round() -> int:
    rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(HERE, "CORRECTNESS_r*.json"))
        if (m := re.search(r"_r(\d+)\.json$", p))
    ]
    max_corr = max(rounds or [0])
    return max(
        1,
        max_corr
        + (
            1
            if os.path.exists(
                os.path.join(HERE, f"BENCH_r{max_corr:02d}.json")
            )
            or os.path.exists(os.path.join(HERE, f"BENCH_r{max_corr}.json"))
            else 0
        ),
    )


# Entries whose function runs a driver loop (the dumped plan is the
# final returned frame; per-round structure lives in the operator code).
DRIVER_LOOP_NOTE = {
    "q_bfs_shortest_path": "per-hop loop in operators/graph.bfs_distances",
    "d_connected_components": "per-round loop in operators/dedup.connected_components",
    "q_pagerank_transitions": "iterations unrolled into one plan (operators/graph.pagerank)",
    "s_kmeans_embeddings": "per-iteration loop in operators/clustering.kmeans",
    "d_semantic_dedup": "kmeans loop inside operators/dedup.semantic_dedup",
    "t_bpe_merge_vocab": "driver merge loop over one word-type collect (operators/bpe.bpe_train)",
}


def main() -> None:
    if len(sys.argv) < 2:
        print("usage: dump_plans.py <tag> [entry ...]", file=sys.stderr)
        sys.exit(2)
    tag = sys.argv[1]
    only = set(sys.argv[2:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", bench.DEFAULT_SF_DIR)
    try:
        cores = bench.parse_cpus(os.environ.get("SPARK_GRAFT_CPUS"))
    except ValueError as exc:
        print(f"dump_plans: {exc}", file=sys.stderr)
        sys.exit(2)
    out_dir = os.path.join(HERE, "plans", f"r{_infer_round()}")
    os.makedirs(out_dir, exist_ok=True)

    names = list(bench.HEADLINE)
    if only:
        names = [n for n in names if n in only] + [
            n for n in only if n not in names
        ]

    with bench.bench_session(cores) as spark:
        for name in names:
            spark.sparkContext.setJobDescription(f"plan:{name}")
            try:
                df = bench.entry_fn(name)(spark, sf_dir)
                plan = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
            except Exception as exc:  # noqa: BLE001
                plan = f"ERROR building {name}: {exc!r}\n"
            finally:
                spark.catalog.clearCache()
            note = DRIVER_LOOP_NOTE.get(name)
            header = f"-- {name} @ {sf_dir} ({tag})\n" + (
                f"-- NOTE: {note}\n" if note else ""
            )
            path = os.path.join(out_dir, f"{name}_{tag}.txt")
            with open(path, "w") as fh:
                fh.write(header + plan)
            print(f"wrote {path}")


if __name__ == "__main__":
    main()
