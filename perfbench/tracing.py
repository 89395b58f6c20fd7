"""Tracing for the traced run: spans recorded around calls into the
package's public functions, and Spark's own event log.

Spans are (name, start, end, parent) records kept in memory, marked
``pkg`` when they wrap a function of the package rather than a step of
the benchmark itself.  Each span also tags the Spark jobs started inside it through the local
property ``perfbench.span``, so the event log attributes every job,
stage and task to the innermost span (and through it to its
operation) exactly, without matching on timestamps.

Functions are wrapped at the attribute their caller looks up: the
catalog imports ``register_views`` and ``add_udfs`` by name, so
``queries.register_views`` is patched as well as
``sources.register_views``.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict

SPAN_PROPERTY = "perfbench.span"
OP_SPAN = "op"

# Span names reported as seconds per operation, and as calls per operation.
TIMED_SPANS = (
    "sources.register_views", "functions.add_udfs", "queries.build", "queries.action",
    "operators.bpe.train", "operators.graph.bfs", "operators.dedup.cc",
    "operators.dedup.exact", "operators.dedup.minhash", "sources.synthetic", "pinning.pin",
    "sources.write",
)
COUNTED_SPANS = (
    "sources.register_views", "functions.add_udfs", "operators.bpe.apply_merge", "pinning.pin",
)

# The benchmark's own spans around the package call and the action that
# make up one operation.  Coverage is measured against them.
WRAPPER_SPANS = ("queries.build", "queries.action", "sources.write")
# Inside those wrappers, the package's spans plus the Spark jobs and SQL
# executions of the event log must cover all but this share of the wall
# time; the rest is driver time that no layer accounts for.  Measured on
# a 4-vCPU host: 0.92-0.94 for q1_pricing_summary (Catalyst analyses its
# SQL text in the driver before any execution starts), 0.95-0.99 for the
# other catalog entries, 0.98 or more for randgen_write.
COVERAGE_TOLERANCE = 0.15


class Tracer:
    """Records spans and counters while ``on``; free when off."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.on = False
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, pkg: bool = False):
        """Record a span while ``on``; yields its record, or None."""
        if not self.on:
            yield None
            return
        idx = len(self.spans)
        rec = {"name": name, "start": time.time(), "end": None, "pkg": pkg,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(idx)
        previous = self.sc.getLocalProperty(SPAN_PROPERTY)
        self.sc.setLocalProperty(SPAN_PROPERTY, str(idx))
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.sc.setLocalProperty(SPAN_PROPERTY, previous)

    def count(self, name: str, value: float) -> None:
        if self.on:
            self.counters[name] += value

    def _wrap(self, original, span_name: str):
        def traced(*args, **kwargs):
            with self.span(span_name, pkg=True):
                return original(*args, **kwargs)

        return traced

    def patch(self, module, attr: str, span_name: str) -> None:
        original = getattr(module, attr)
        setattr(module, attr, self._wrap(original, span_name))
        self._patches.append((module, attr, original))

    def wrapper_cost_s(self, calls: int = 20_000) -> float:
        """Seconds a wrapper adds to one call while tracing is off."""
        def bare():
            return None

        wrapped = self._wrap(bare, "probe")
        on, self.on = self.on, False
        try:
            t0 = time.perf_counter()
            for _ in range(calls):
                bare()
            t1 = time.perf_counter()
            for _ in range(calls):
                wrapped()
            t2 = time.perf_counter()
        finally:
            self.on = on
        return max(0.0, (t2 - t1) - (t1 - t0)) / calls

    def patch_package(self) -> None:
        """Wrap the package's public entry points at every lookup site."""
        import datafusion_randgen_spark as pkg
        from datafusion_randgen_spark import pinning, queries, sources
        from datafusion_randgen_spark.operators import bpe, dedup, graph, similarity
        from datafusion_randgen_spark.sources import synthetic

        for module, attr, name in (
            (sources, "register_views", "sources.register_views"),
            (queries, "register_views", "sources.register_views"),
            (pkg, "add_udfs", "functions.add_udfs"),
            (queries, "add_udfs", "functions.add_udfs"),
            (bpe, "bpe_train", "operators.bpe.train"),
            (bpe, "apply_merge", "operators.bpe.apply_merge"),
            (graph, "bfs_distances", "operators.graph.bfs"),
            (dedup, "connected_components", "operators.dedup.cc"),
            (dedup, "exact_dedup", "operators.dedup.exact"),
            (dedup, "minhash_lsh_dedup_pairs", "operators.dedup.minhash"),
            # catalog entries import it inside the function, from the module
            (synthetic, "synthetic_table", "sources.synthetic"),
            (pinning, "pin", "pinning.pin"),
            (dedup, "pin", "pinning.pin"),
            (bpe, "pin", "pinning.pin"),
            (graph, "pin", "pinning.pin"),
            (similarity, "pin", "pinning.pin"),
        ):
            self.patch(module, attr, name)

    def unpatch(self) -> None:
        while self._patches:
            module, attr, original = self._patches.pop()
            setattr(module, attr, original)


# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------

def read_event_log(log_dir: str) -> list[dict]:
    """Every event of the (single) application logged under ``log_dir``:
    Spark 4 writes a rolling ``eventlog_v2_*/events_<n>_*`` directory."""
    files = [
        f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(f) and os.path.basename(f).startswith(("events_", "local-"))
        and not f.endswith(".crc")
    ]
    if not files:
        raise RuntimeError(f"no event log under {log_dir}")

    def order(path: str) -> int:
        parts = os.path.basename(path).split("_")
        return int(parts[1]) if len(parts) > 2 and parts[1].isdigit() else 0

    events = []
    for path in sorted(files, key=order):
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def _root(spans: list[dict], idx: int) -> int:
    while spans[idx]["parent"] is not None:
        idx = spans[idx]["parent"]
    return idx


def _outermost_by_name(spans: list[dict], idx: int) -> bool:
    """False for a span nested (at any depth) in a span of its own name,
    so recursive or doubly wrapped calls are not counted twice."""
    name, p = spans[idx]["name"], spans[idx]["parent"]
    while p is not None:
        if spans[p]["name"] == name:
            return False
        p = spans[p]["parent"]
    return True


def layer_metrics(tracer: Tracer, events: list[dict]) -> tuple[dict[str, float], list[tuple]]:
    """Per-operation layer metrics over the traced operations, and each
    operation's (key, coverage): the share of its wrapper spans' wall
    time inside the package's spans, its Spark jobs or its SQL
    executions.

    Returns per-op averages: ``<layer>_s`` and ``<layer>_calls`` from
    spans, ``spark.*`` from the event log restricted to jobs tagged
    with a span of a traced operation.
    """
    spans = tracer.spans
    ops = [i for i, s in enumerate(spans) if s["name"] == OP_SPAN and s["parent"] is None]
    n_ops = max(1, len(ops))
    op_set = set(ops)

    span_s: dict[str, float] = defaultdict(float)
    span_calls: dict[str, int] = defaultdict(int)
    wrappers: dict[int, list[tuple[float, float]]] = defaultdict(list)
    explained: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for i, s in enumerate(spans):
        if i in op_set or _root(spans, i) not in op_set:
            continue
        if s["name"] in WRAPPER_SPANS:
            wrappers[_root(spans, i)].append((s["start"], s["end"]))
        elif s["pkg"]:
            explained[_root(spans, i)].append((s["start"], s["end"]))
        if _outermost_by_name(spans, i):
            span_s[s["name"]] += s["end"] - s["start"]
            span_calls[s["name"]] += 1

    # ---- jobs, stages, tasks
    job_op: dict[int, int] = {}
    job_span: dict[int, int] = {}
    job_iv: dict[int, list[float]] = {}
    stage_job: dict[int, int] = {}
    python_acc: dict[int, str] = {}
    sql_iv: dict[int, list] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            tag = (e.get("Properties") or {}).get(SPAN_PROPERTY)
            if tag is None or not tag.isdigit() or int(tag) >= len(spans):
                continue
            root = _root(spans, int(tag))
            if root not in op_set:
                continue
            jid = e["Job ID"]
            job_op[jid], job_span[jid] = root, int(tag)
            job_iv[jid] = [e["Submission Time"] / 1000.0, None]
            for sid in e["Stage IDs"]:
                stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in job_iv:
            job_iv[e["Job ID"]][1] = e["Completion Time"] / 1000.0
        elif kind.endswith(("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")):
            _collect_python_metrics(e.get("sparkPlanInfo") or {}, python_acc)
            if kind.endswith("Start"):
                sql_iv[e["executionId"]] = [e["time"] / 1000.0, None]
        elif kind.endswith("SparkListenerSQLExecutionEnd") and e["executionId"] in sql_iv:
            sql_iv[e["executionId"]][1] = e["time"] / 1000.0

    m: dict[str, float] = defaultdict(float)
    stages = set()
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerStageCompleted":
            sid = e["Stage Info"]["Stage ID"]
            if sid in stage_job:
                stages.add((sid, e["Stage Info"].get("Stage Attempt ID", 0)))
        elif kind == "SparkListenerTaskEnd" and e["Stage ID"] in stage_job:
            m["spark.tasks"] += 1
            if (e.get("Task End Reason") or {}).get("Reason") != "Success":
                m["spark.failed_tasks"] += 1
            tm = e.get("Task Metrics") or {}
            m["spark.executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
            m["spark.executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            m["spark.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            m["spark.shuffle_write_mb"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0) / 1e6
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                name = python_acc.get(acc.get("ID"))
                if name is not None and str(acc.get("Update", "")).lstrip("-").isdigit():
                    m[name] += int(acc["Update"])
    m["spark.jobs"] = len(job_iv)
    m["spark.stages"] = len(stages)
    m["functions.python_sent_mb"] = m.pop("python_sent", 0) / 1e6
    m["functions.python_received_mb"] = m.pop("python_received", 0) / 1e6
    m["functions.python_rows"] = m.pop("python_rows", 0)

    # ---- per-operation wall split and coverage
    busy_by_op: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for jid, (s, e) in job_iv.items():
        if e is not None:
            busy_by_op[job_op[jid]].append((s, e))
    # one client, so the SQL executions inside an operation's time are its own
    sql_done = [tuple(iv) for iv in sql_iv.values() if iv[1] is not None]
    coverage = []
    for op in ops:
        s, e = spans[op]["start"], spans[op]["end"]
        busy = _union_seconds([(max(a, s), min(b, e)) for a, b in busy_by_op[op] if b > s and a < e])
        m["spark.job_busy_s"] += busy
        m["spark.driver_outside_jobs_s"] += (e - s) - busy
        known = explained[op] + busy_by_op[op] + sql_done
        wall = sum(b - a for a, b in wrappers[op])
        covered = sum(
            _union_seconds([(max(a, ws), min(b, we)) for a, b in known if b > ws and a < we])
            for ws, we in wrappers[op]
        )
        coverage.append((spans[op].get("key"), covered / wall if wall > 0 else 0.0))

    def in_views(span_idx: int) -> bool:
        p = span_idx
        while p is not None:
            if spans[p]["name"] == "sources.register_views":
                return True
            p = spans[p]["parent"]
        return False

    m["sources.schema_jobs"] = sum(1 for j in job_span.values() if in_views(j))

    out = {k: v / n_ops for k, v in m.items()}
    for name in TIMED_SPANS:
        out[f"{name}_s"] = span_s.get(name, 0.0) / n_ops
    for name in COUNTED_SPANS:
        out[f"{name}_calls"] = span_calls.get(name, 0) / n_ops
    for name, value in tracer.counters.items():
        out[name] = value / n_ops
    return out, coverage


_PYTHON_METRICS = {
    "data sent to Python workers": "python_sent",
    "data returned from Python workers": "python_received",
    "number of output rows": "python_rows",
}


def _collect_python_metrics(plan: dict, acc_names: dict[int, str]) -> None:
    """Accumulator ids of the Arrow Python-eval nodes' size/row metrics."""
    if "EvalPython" in plan.get("nodeName", ""):
        for metric in plan.get("metrics", []):
            if metric["name"] in _PYTHON_METRICS:
                acc_names[metric["accumulatorId"]] = _PYTHON_METRICS[metric["name"]]
    for child in plan.get("children", []):
        _collect_python_metrics(child, acc_names)
