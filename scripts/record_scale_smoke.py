#!/usr/bin/env python
"""Run the opt-in scale smoke suite (tests/test_scale_smoke.py, ~40×
the sf0.1 fixture) once and record SCALE_SMOKE.json at the repo root:
the supra-sf0.1 dedup trend line.

Run once per round, with no other Spark JVM live:

    python scripts/record_scale_smoke.py
"""
from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# op-name suffixes that are never wall times; a "sec"-kinded line with
# one of these names is a stale pre-r18 writer's output (ADVICE r18).
# Deliberate tradeoff: a FUTURE wall-time op that embeds one of these
# markers in its name would be skip-and-warned too — name new timed ops
# accordingly (the current writer tags all non-time lines with "kind").
_NON_TIME_OP_MARKERS = ("_pair_rows", "_ratio_vs_")


def _default_warn(msg: str) -> None:
    sys.stderr.write(msg + "\n")


def split_trend_lines(lines, warn=None) -> tuple[dict, dict]:
    """Route parsed trend JSONL lines into (trend_sec_by_ndocs,
    trend_counts_by_ndocs), each ``{op: {str(n_docs): value}}``.

    ADVICE r17: non-time series (candidate-pair row counts, the
    informational kcap ratio) used to land in the seconds map with the
    unit encoded in the key suffix, which quietly eroded the schema
    for any consumer assuming wall times.  Lines now carry an optional
    ``kind`` field ("sec" default); anything non-"sec" files into the
    sibling counts map.  Pure function for unit-testability.

    ADVICE r18: malformed lines (missing op/n_docs, or missing the
    value field their kind promises) are skipped with a warning rather
    than raising a KeyError AFTER the ~14-minute smoke already ran.

    ADVICE r19: a "sec"-kinded line whose op name is a known non-time
    series (a stale file from a pre-r18 writer) is ROUTED into the
    counts map with a warning — the marker already identifies it as a
    count/ratio, and dropping it would lose the count tripwire's input
    — rather than polluting the seconds map or being discarded."""
    warn = warn or _default_warn
    trend: dict[str, dict[str, float]] = {}
    counts: dict[str, dict[str, float]] = {}
    for ent in lines:
        if not isinstance(ent, dict) or "op" not in ent or "n_docs" not in ent:
            warn(f"record_scale_smoke: skipping malformed trend line {ent!r}")
            continue
        op = ent["op"]
        if ent.get("kind", "sec") == "sec":
            if "sec" not in ent:
                warn(
                    f"record_scale_smoke: skipping field-less 'sec' "
                    f"line {ent!r} (malformed)"
                )
                continue
            if any(m in str(op) for m in _NON_TIME_OP_MARKERS):
                # ADVICE r19: a stale pre-r18 writer put pair counts /
                # ratios under "sec" with no "kind".  The marker
                # already identifies them as non-time series, so route
                # them into the counts map (preserving the count
                # tripwire's input) instead of discarding — but warn,
                # since the file should be regenerated.
                warn(
                    "record_scale_smoke: routing legacy non-time 'sec' "
                    f"line {ent!r} into the counts map (stale pre-r18 "
                    "writer)"
                )
                counts.setdefault(op, {})[str(ent["n_docs"])] = ent["sec"]
                continue
            trend.setdefault(op, {})[str(ent["n_docs"])] = ent["sec"]
        else:
            # non-sec lines carry their value under "value" (code
            # review r18: the field name must not claim seconds)
            if "value" not in ent:
                warn(
                    f"record_scale_smoke: skipping kinded line {ent!r} "
                    "missing its 'value' field"
                )
                continue
            counts.setdefault(op, {})[str(ent["n_docs"])] = ent["value"]
    return trend, counts


def parse_trend_file(path, warn=None) -> list:
    """Read a trend JSONL file, skipping (with a warning) lines that are
    not valid JSON — a torn final line from a crashed writer must not
    kill the recorder after the smoke already ran (ADVICE r18).  A
    missing/unreadable file is an empty recording, as before; an I/O
    error MID-file keeps the lines read so far but says so (code
    review r19: a silent partial parse would look complete)."""
    warn = warn or _default_warn
    parsed = []
    try:
        with open(path) as fh:
            for i, ln in enumerate(fh, start=1):
                if not ln.strip():
                    continue
                try:
                    parsed.append(json.loads(ln))
                except ValueError:
                    warn(
                        f"record_scale_smoke: skipping unparseable trend "
                        f"line {i} of {path}: {ln.strip()[:120]!r}"
                    )
    except FileNotFoundError:
        pass  # the documented empty-recording case: no smoke ran here
    except OSError as exc:
        # ADVICE r19: only a MISSING file is silent — a permission
        # error or EIO opening/reading the file must say so, or the
        # recorder writes empty trend maps that look like a complete
        # run (the exact failure mode the mid-read branch warns about).
        if parsed:
            warn(
                f"record_scale_smoke: I/O error mid-read of {path} "
                f"({exc}); keeping the {len(parsed)} lines parsed so far"
            )
        else:
            warn(
                f"record_scale_smoke: could not read {path} ({exc}); "
                "recording NO trend lines"
            )
    return parsed


def main() -> int:
    trend_path = os.path.join(REPO, ".scale_trend.jsonl")
    try:
        os.remove(trend_path)  # stale entries must not survive a re-run
    except OSError:
        pass
    env = dict(
        os.environ,
        SPARK_GRAFT_SCALE_TESTS="1",
        SPARK_GRAFT_TREND_OUT=trend_path,
    )
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, "-m", "pytest", "tests/test_scale_smoke.py",
         "-q", "--durations=0", "--durations-min=0.01"],
        cwd=REPO, env=env, capture_output=True, text=True,
    )
    wall = round(time.time() - t0, 1)
    # per-test call durations from pytest's --durations report
    durations = {
        m.group(2): float(m.group(1))
        for m in re.finditer(
            r"^([0-9.]+)s call\s+\S+?::(\S+)", proc.stdout, re.M
        )
    }
    lines = [ln for ln in proc.stdout.strip().splitlines() if ln.strip()]
    # cross-scale trend (VERDICT r9 task 5): two wall-time points per
    # heavy dedup op, written by the trend tests — {op: {n_docs: sec}};
    # non-time series (pair counts, ratios) go to the sibling counts
    # map (ADVICE r17, see split_trend_lines)
    parsed = parse_trend_file(trend_path)
    try:
        os.remove(trend_path)
    except OSError:
        pass
    trend, trend_counts = split_trend_lines(parsed)
    record = {
        "rc": proc.returncode,
        "wall_sec": wall,
        "summary": lines[-1] if lines else "",
        "durations_sec": durations,
        "trend_sec_by_ndocs": trend,
        "trend_counts_by_ndocs": trend_counts,
        "recorded_unix": int(t0),
    }
    with open(os.path.join(REPO, "SCALE_SMOKE.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps(record))
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-2000:])
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
