"""Unit tests for bench.py: the core-count parse, the code hash, the
seeded pass order, the warm-pass directory, the stdout line, failure
counting, the plan of the core-scaling probe and the warm-pass probe
sizes.

Only the last three need Spark (the shared ``conftest`` session);
bench.py imports nothing from pyspark at module level.
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def test_parse_cpus_defaults_to_host_cores():
    assert bench.parse_cpus(None) == bench.host_cores()
    assert bench.parse_cpus("") == bench.host_cores()
    assert bench.parse_cpus("8") == 8


@pytest.mark.parametrize("value", ["0", "-4", "4.5", "four", "0x10"])
def test_parse_cpus_rejects_non_positive_or_non_integer(value):
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        bench.parse_cpus(value)


def test_bad_cpus_exits_before_session_start(monkeypatch, capsys):
    def no_session(*_a, **_k):
        raise AssertionError("session started despite a bad core count")

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "0")
    monkeypatch.setattr(bench, "build_session", no_session)
    assert bench.main() == 2
    assert "SPARK_GRAFT_CPUS" in capsys.readouterr().err


def test_compute_code_hash_stable_and_sensitive(tmp_path):
    pkg = tmp_path / "datafusion_randgen_spark"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("x = 1\n")
    (tmp_path / "bench.py").write_text("# harness\n")
    h1 = bench.compute_code_hash(str(tmp_path))
    h2 = bench.compute_code_hash(str(tmp_path))
    assert h1 == h2 and len(h1) == 12
    # any package-source byte change must change the hash
    (pkg / "__init__.py").write_text("x = 2\n")
    assert bench.compute_code_hash(str(tmp_path)) != h1
    # ...and so must a bench.py (methodology) change
    h3 = bench.compute_code_hash(str(tmp_path))
    (tmp_path / "bench.py").write_text("# harness v2\n")
    assert bench.compute_code_hash(str(tmp_path)) != h3


def test_compute_code_hash_unreadable_never_matches(tmp_path):
    # ADVICE r16: an unreadable source file must fail the WHOLE hash
    # toward non-matching — not collapse to a shared sentinel that two
    # different broken states (or a broken and a later re-broken state)
    # could both produce.  A directory named like a module is an
    # OSError on open() even when running as root (chmod is bypassed).
    pkg = tmp_path / "datafusion_randgen_spark"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("x = 1\n")
    (tmp_path / "bench.py").write_text("# harness\n")
    readable = bench.compute_code_hash(str(tmp_path))
    (pkg / "broken.py").mkdir()  # glob-matches, open() raises
    h1 = bench.compute_code_hash(str(tmp_path))
    h2 = bench.compute_code_hash(str(tmp_path))
    assert readable not in (h1, h2)
    # the per-call nonce: even the SAME broken state never vouches
    # for itself across calls
    assert h1 != h2


def test_compute_code_hash_surfaces_unreadable_paths(tmp_path, capsys):
    # a salted hash must be diagnosable as an I/O problem, not read as
    # a code edit: the unreadable relpath is warned to stderr, and a
    # clean tree warns nothing
    pkg = tmp_path / "datafusion_randgen_spark"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("x = 1\n")
    (tmp_path / "bench.py").write_text("# harness\n")
    bench.compute_code_hash(str(tmp_path))
    assert capsys.readouterr().err == ""
    (pkg / "broken.py").mkdir()  # glob-matches, open() raises
    bench.compute_code_hash(str(tmp_path))
    err = capsys.readouterr().err
    rel = os.path.join("datafusion_randgen_spark", "broken.py")
    assert "unreadable source" in err and rel in err


def test_shuffled_pass_order_deterministic_and_complete():
    names = ["a1", "a2", "a3", "b1", "c1", "c2"]
    o1 = bench.shuffled_pass_order(names, 16, 0)
    assert o1 == bench.shuffled_pass_order(names, 16, 0)
    assert sorted(o1) == sorted(names)  # every entry exactly once


def test_shuffled_pass_order_varies_across_passes():
    # the whole point: consecutive passes must not share a fixed order
    orders = [
        bench.shuffled_pass_order(bench.HEADLINE, 16, p) for p in range(3)
    ]
    assert len({json.dumps(o) for o in orders}) > 1


def test_default_warm_dir_is_sibling_sf0001():
    assert bench.default_warm_dir("/data/sf0.1") == \
        "/data/sf0.001"
    # trailing slash must not shift the parent up a level
    assert bench.default_warm_dir("/data/sf0.1/") == \
        "/data/sf0.001"


def test_default_warm_dir_relative_sf_dir_resolves_absolute():
    out = bench.default_warm_dir("testdata/sf0.1")
    assert os.path.isabs(out) and out.endswith("/sf0.001")


def test_headline_names_resolve_to_builders():
    assert len(bench.HEADLINE) == 37
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)
    for name in bench.HEADLINE:
        assert callable(bench.entry_fn(name)), name


def test_line_with_every_headline_median_fits_cap():
    payload = {
        "metric": "headline_queries_total_runtime",
        "value": 99999.999,
        "unit": "sec",
        "queries": {n: 999.999 for n in bench.HEADLINE},
        "sf": 0.001,
        "cpus": 1024,
        "reps": bench.REPS,
        "code_hash": "0123456789ab",
        "attempted": 37,
        "failed": 37,
    }
    line = bench.render_line(payload)
    assert json.loads(line) == payload
    payload["queries"]["x" * bench.LINE_CAP] = 1.0
    with pytest.raises(ValueError, match="cap"):
        bench.render_line(payload)


def test_run_passes_records_failures_and_keeps_going(spark, capsys):
    calls = []

    def broken(_spark, _sf_dir):
        calls.append(1)
        raise RuntimeError("entry is broken")

    fns = {"ok": lambda s, _d: s.range(10), "bad": broken}
    runs, failed = bench.run_passes(spark, fns, "unused", reps=2, seed=16)
    assert failed == ["bad"] and len(calls) == 1  # not run again
    assert runs["bad"] == [] and len(runs["ok"]) == 2
    err = capsys.readouterr().err
    assert "FAILED bad" in err and "entry is broken" in err


def test_cpu_scaling_probe_groups_on_hash_chain(spark):
    """The probe's work must survive the optimizer: the top of its plan
    is an aggregate grouped on pmod(<24 chained xxhash64>, 64)."""
    df = bench.cpu_scaling_probe(spark, None)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    agg = plan.splitlines()[0]
    assert agg.startswith("Aggregate [") and "count(1)" in agg
    key = re.search(r"pmod\((.*), 64\) AS (_groupingexpression#\d+L?)", plan)
    assert key, plan
    assert agg.startswith(f"Aggregate [{key.group(2)}]")
    assert key.group(1).count("xxhash64(") == 24


@pytest.mark.parametrize("name", sorted(bench.PROBES))
def test_warm_pass_probe_keeps_plan_shape_at_one_percent_rows(spark, name):
    """The warm pass runs each probe at WARM_ROW_SHARE of its rows with
    the plan the timed pass compiles: same partition counts, same
    operators and expressions (so the same 24-round hash chain); only
    the Range row count differs.  The timed builder keeps its rows."""
    def plan(fn):
        return fn(spark, None)._jdf.queryExecution().optimizedPlan().toString()

    full, warm = plan(bench.entry_fn(name)), plan(bench.warm_fn(name))
    rng = re.compile(r"Range \(0, (\d+), step=1(, splits=Some\(\d+\))?\)")
    (full_rows, full_splits), = rng.findall(full)
    (warm_rows, warm_splits), = rng.findall(warm)
    assert int(full_rows) == {
        "gen_expr_5m_rows": 5_000_000,
        "gen_pandas_udf_1m_rows": 1_000_000,
        "cpu_scaling_probe": 64_000_000,
    }[name]
    assert int(warm_rows) == int(int(full_rows) * bench.WARM_ROW_SHARE) <= int(full_rows) // 100
    assert warm_splits == full_splits
    # expression ids and rand() seeds differ between builds
    assert re.sub(r"-?\d+", "N", warm) == re.sub(r"-?\d+", "N", full)
