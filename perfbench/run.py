"""Benchmark command for datafusion_randgen_spark.

Run from the repository root:

    python3 perfbench/run.py --workload catalog_sf0.1 --seed 1 --seconds 10 --trace 0

Workloads (see ``workloads.py`` and ``BENCHMARK.json``): ``catalog_sf0.1``
and ``randgen_write``.  One process runs one workload on
``local[nproc]``: it starts a session, builds the inputs from the seed,
warms up with the workload's own operations, times operations for at
least ``--seconds``, checks every output (untimed), and prints each
metric by name with its unit and sample count.  The last line of
standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` enables
Spark's event log and span recording and reports the per-layer
metrics, per operation.  In its timed passes each unit runs twice in a
row, untraced and traced in alternating order, with the span wrappers
installed throughout; the median ratio of traced to untraced latency
over these pairs is the tracing overhead (the event log is on in
both).  The traced run fails when the package's spans and Spark's jobs
and SQL executions leave too much of an operation's wall time
unexplained.

Everything the run writes lives under ``.perfbench_work/`` in the
current directory and is removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

T0 = time.perf_counter()
WORK_ROOT = ".perfbench_work"
PACKAGE = "datafusion_randgen_spark"

THROUGHPUT_NAMES = {"entries": "entries_per_s", "rows": "rows_per_s"}


@dataclass
class Phase:
    """Timed passes: every completed operation's latency, unit and key."""

    elapsed: float = 0.0
    items: int = 0
    latencies: list[float] = field(default_factory=list)
    units: list = field(default_factory=list)
    keys: list = field(default_factory=list)
    raised: int = 0

    @property
    def items_per_s(self) -> float:
        return self.items / self.elapsed

    def by_unit(self) -> dict:
        out: dict = {}
        for unit, t in zip(self.units, self.latencies):
            out.setdefault(unit, []).append(t)
        return out


def run_op(workload, tracer, unit, phase: Phase) -> None:
    """One operation on ``unit``, added to ``phase``."""
    t0 = time.perf_counter()
    try:
        with tracer.span("op") as rec:
            items, key = workload.op(unit)
            if rec is not None:
                rec["key"] = key
    except Exception:
        traceback.print_exc(file=sys.stderr)
        phase.raised += 1
        return
    finally:
        phase.elapsed += time.perf_counter() - t0
    phase.latencies.append(time.perf_counter() - t0)
    phase.units.append(unit)
    phase.items += items
    phase.keys.append(key)


def timed_phase(workload, tracer, seconds: float) -> Phase:
    """Closed loop over whole passes of ``workload.units()`` until at
    least ``seconds`` have passed."""
    phase = Phase()
    while phase.elapsed < seconds:
        for unit in workload.units():
            run_op(workload, tracer, unit, phase)
    return phase


def paired_phases(workload, tracer, seconds: float) -> tuple[Phase, Phase]:
    """Whole passes in which each unit runs twice in a row, untraced and
    traced, the order alternating from one pair to the next, until each
    side has run at least ``seconds``.  A pair shares the host's state,
    and neither side always runs first."""
    untraced, traced = Phase(), Phase()
    order = (False, True)
    while untraced.elapsed < seconds or traced.elapsed < seconds:
        for unit in workload.units():
            for on in order:
                tracer.on = on
                try:
                    run_op(workload, tracer, unit, traced if on else untraced)
                finally:
                    tracer.on = False
            order = order[::-1]
    return untraced, traced


def overhead_ratios(untraced: Phase, traced: Phase) -> list[float]:
    """traced / untraced latency of each pair of runs of the same unit."""
    u, t = untraced.by_unit(), traced.by_unit()
    return [b / a for unit in u for a, b in zip(u[unit], t.get(unit, []))]


def tail_percentile(values: list[float]) -> tuple[int, float] | None:
    """(p, value) for the highest percentile with at least ten samples
    above it (nearest rank), or None below eleven samples."""
    n = len(values)
    if n < 11:
        return None
    k = n - 11
    return 100 * (k + 1) // n, sorted(values)[k]


def run(args, work_dir: str) -> tuple[dict, list[str]]:
    from session import build_session, heap_mb, host_cores, jvm_pid, mem_available_mb, peak_rss_mb, stop_session
    from tracing import COVERAGE_TOLERANCE, Tracer, layer_metrics, read_event_log
    from workloads import WORKLOADS

    t_start = time.perf_counter()
    cores, heap = host_cores(), heap_mb(mem_available_mb())
    event_dir = os.path.join(work_dir, "eventlog") if args.trace else None
    spark = build_session(work_dir, cores, heap, event_dir)
    try:
        t_session = time.perf_counter()
        tracer = Tracer(spark)
        wl = WORKLOADS[args.workload](spark, tracer, work_dir, args.seed)
        wl.setup()
        t_inputs = time.perf_counter()
        warm_keys = wl.warm()
        setup_s = time.perf_counter() - t_start
        setup_split = (t_session - t_start, t_inputs - t_session, t_start + setup_s - t_inputs)

        traced = None
        if not args.trace:
            untraced = timed_phase(wl, tracer, args.seconds)
        else:
            tracer.patch_package()
            try:
                untraced, traced = paired_phases(wl, tracer, args.seconds)
            finally:
                tracer.unpatch()
        # before the checks, whose oracle and read-back are the benchmark's
        rss = peak_rss_mb(jvm_pid(spark))

        t_check = time.perf_counter()
        bad = wl.check()
        check_s = time.perf_counter() - t_check
        pairs = wl.dedup_pairs() if args.trace and hasattr(wl, "dedup_pairs") else (0, 0)
    finally:
        stop_session(spark)

    phases = [untraced] + ([traced] if traced else [])
    op_keys = list(warm_keys) + [k for ph in phases for k in ph.keys]
    attempted = len(op_keys) + sum(ph.raised for ph in phases)
    failed = sum(1 for k in op_keys if k in bad) + sum(ph.raised for ph in phases)

    lat = untraced.latencies
    if not lat:
        raise RuntimeError(f"no timed operation of {args.workload} completed")
    throughput = THROUGHPUT_NAMES[wl.unit]
    lines = [
        f"workload {args.workload}  seed {args.seed}  local[{cores}]  heap {heap}m  trace {args.trace}",
        f"setup_s        {setup_s:10.3f} s      (session start {setup_split[0]:.1f} s, inputs "
        f"{setup_split[1]:.1f} s, warm-up {setup_split[2]:.1f} s; n=1)",
        f"{throughput:<14} {untraced.items_per_s:10.5g} 1/s    "
        f"(items_per_s; {untraced.items} {wl.unit} in {untraced.elapsed:.2f} s)",
        f"op_s_p50       {statistics.median(lat):10.3f} s      (n={len(lat)})",
    ]
    tail = tail_percentile(lat)
    lines.append(
        f"op_s_tail      {tail[1]:10.3f} s      (p{tail[0]}, n={len(lat)})" if tail
        else f"op_s_tail             n/a        (n={len(lat)}; a tail needs 10 samples beyond it)"
    )
    lines += [
        f"op_s_max       {max(lat):10.3f} s      (n={len(lat)})",
        f"peak_rss_mb    {rss:10.1f} MB     (JVM VmHWM + driver max RSS)",
        f"ops_failed     {failed:10d}        (of {attempted} attempted, warm-up included)",
    ]
    if len(wl.units()) > 1:
        for unit, v in untraced.by_unit().items():
            if v:
                lines.append(f"  {unit:<32} median {statistics.median(v):7.3f} s  max {max(v):7.3f} s  n={len(v)}")
    lines += [f"check FAILED {k}: {v}" for k, v in sorted(bad.items(), key=lambda kv: str(kv[0]))]
    lines.append(f"checks: {len(set(op_keys)) - len(bad)} of {len(set(op_keys))} outputs correct "
                 f"({check_s:.2f} s, untimed)")

    coverage_ok = True
    if not args.trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "items_per_s": (untraced.items_per_s, "1/s"),
            "op_s_p50": (statistics.median(lat), "s"),
            "peak_rss_mb": (rss, "MB"),
        }
    else:
        layers, coverage = layer_metrics(tracer, read_event_log(event_dir))
        candidates, verified = pairs
        layers["operators.dedup.candidate_pairs"] = candidates
        layers["operators.dedup.verified_pairs"] = verified
        layers["operators.dedup.pair_yield"] = verified / candidates if candidates else 0.0
        ratios = overhead_ratios(untraced, traced)
        layers["trace.overhead_pct"] = (statistics.median(ratios) - 1.0) * 100.0 if ratios else 0.0
        q1, _, q3 = statistics.quantiles(ratios, n=4) if len(ratios) > 1 else (0.0, 0.0, 0.0)
        layers["trace.span_coverage_min"] = min(c for _, c in coverage) if coverage else 0.0
        metrics = {name: (layers.get(name, 0.0), unit) for name, unit in _per_layer_units().items()}
        lines.append(
            f"tracing overhead: {layers['trace.overhead_pct']:+.1f}% (median traced/untraced latency of "
            f"the same unit, n={len(ratios)} pairs, quartiles {(q1 - 1) * 100:+.1f}% / {(q3 - 1) * 100:+.1f}%; "
            f"event log on in both)"
        )
        wrapped_calls = sum(1 for s in tracer.spans if s["pkg"]) / max(1, len(traced.latencies))
        lines.append(
            f"wrappers while tracing is off: {tracer.wrapper_cost_s() * 1e6:.2f} us a call, "
            f"{wrapped_calls:.1f} wrapped calls per op"
        )
        low = [(k, c) for k, c in coverage if c < 1 - COVERAGE_TOLERANCE]
        lines.append(
            f"span coverage: {len(coverage) - len(low)} of {len(coverage)} traced ops have >= "
            f"{1 - COVERAGE_TOLERANCE:.0%} of their wall inside package spans, Spark jobs or SQL "
            f"executions (min {layers['trace.span_coverage_min']:.3f})"
        )
        by_key: dict = {}
        for k, c in coverage:
            by_key.setdefault(k, []).append(c)
        lines.append("  min coverage by key: " + ", ".join(f"{k} {min(v):.3f}" for k, v in by_key.items()))
        lines += [f"span coverage LOW {k}: {c:.3f}" for k, c in low]
        coverage_ok = not low
        lines.append(f"per-layer metrics per operation (n={len(traced.latencies)} traced ops):")
        lines += [f"  {name:<34} {v:14.4f} {u}" for name, (v, u) in metrics.items()]

    result = {
        "correct": failed == 0 and coverage_ok,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, lines


def _per_layer_units() -> dict[str, str]:
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(os.path.dirname(here), "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=["catalog_sf0.1", "randgen_write"])
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = parser.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ package in {root}; run from the repository root",
              file=sys.stderr)
        return 2
    # the driver imports the package from here; its Python workers read PYTHONPATH
    sys.path.insert(0, root)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p)

    work_dir = os.path.join(root, WORK_ROOT, f"{args.workload}-{os.getpid()}")
    os.makedirs(work_dir)
    try:
        result, lines = run(args, work_dir)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.join(root, WORK_ROOT))
        except OSError:
            pass
    lines.append(f"run wall {time.perf_counter() - T0:.1f} s (process start to result)")
    for line in lines:
        print(line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
