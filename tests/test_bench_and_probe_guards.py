"""Pin the bench harness's stdout contract, scale_stress's merge guard
and the committed SCALING.json probe sections.

bench.py's final stdout line is what the BENCH_r*.json snapshots parse.
scale_stress refuses to merge a SCALE_STRESS_ONLY subset into a file
measured on another grid, and the probe sections kept in SCALING.json
must match their declared doublings. No SparkSession is needed: the
bench helpers are pure, and the scale_stress guard exits before the JVM
would boot.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import bench  # noqa: E402
from geektime_bigdata_spark.profile import _tree_cpu_seconds  # noqa: E402


def test_pass_drift_uses_warm_passes_only():
    """Pass 1 pays the structural memo/page-cache fill at the measured
    sf; the median of (inflated s1, s2, s3) resolves to max(s2, s3) —
    inflation can only nudge the median up to the worse warm sample —
    so the spread ignores pass 1: the r11 89.7/72.2/72.6 record is
    steady (warm spread 1.006) with the overhang in warm_fill."""
    spread, fill = bench._pass_drift([89.676, 72.191, 72.648])
    assert spread == pytest.approx(1.006, abs=1e-3)
    assert fill == pytest.approx(1.242, abs=1e-3)
    # drift between the warm passes IS flagged
    spread, _ = bench._pass_drift([60.0, 50.0, 65.0])
    assert spread == 1.3


def test_scale_stress_refuses_mismatched_grid_merge(tmp_path):
    """A SCALE_STRESS_ONLY merge into a copy of SCALING.json whose
    factors differ from the tool's grid exits before the JVM starts and
    leaves the file as it was."""
    with open(os.path.join(HERE, "SCALING.json")) as fh:
        doc = json.load(fh)
    prior = tmp_path / "scaling.json"
    body = json.dumps({**doc, "factors": [1, 2, 8]})
    prior.write_text(body)
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "tools", "scale_stress.py"),
         str(prior)],
        capture_output=True,
        text=True,
        env={**os.environ, "SCALE_STRESS_ONLY": "sessionize"},
        timeout=120,
    )
    assert r.returncode != 0
    assert "refusing SCALE_STRESS_ONLY merge" in r.stderr
    assert prior.read_text() == body


@pytest.mark.parametrize("key", ["probe8x", "probe16x", "probe32x"])
def test_scaling_json_probe_grids_match_declared_depth(key):
    """The committed SCALING.json stays internally consistent: each
    probe section's factor keys match its declared doubling pair."""
    with open(os.path.join(HERE, "SCALING.json")) as fh:
        doc = json.load(fh)
    expected = {
        "probe8x": {"4", "8"},
        "probe16x": {"8", "16"},
        "probe32x": {"16", "32"},
    }[key]
    for op, row in doc.get(key, {}).items():
        assert set(row["sec_at"]) == expected, (key, op)
    for op, row in doc.get(f"{key}_scaled", {}).items():
        assert set(row["sec_at_fixed"]) == expected, (key, op)
        assert set(row["sec_at_scaled"]) == expected, (key, op)
        assert set(row["partitions"]) == expected, (key, op)


def test_headline_set_versioning():
    """v5 must be exactly v1 + the audited v2..v5 additions,
    duplicate-free, and every member must be a registered query —
    bench.py silently drops unknown names (names = [n for n in headline
    if n in queries]), so a typo here would shrink the measured set
    without an error."""
    assert bench.HEADLINE == (
        bench.HEADLINE_V1
        + bench.HEADLINE_ADDED_V2
        + bench.HEADLINE_ADDED_V3
        + bench.HEADLINE_ADDED_V4
        + bench.HEADLINE_ADDED_V5
    )
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE))
    assert bench.HEADLINE_SET_VERSION == 5
    import __spark_entry__ as entry

    q = set(entry.queries())
    missing = [n for n in bench.HEADLINE if n not in q]
    assert not missing, f"headline names not in queries(): {missing}"


def test_tree_cpu_seconds_counts_own_burn():
    """_tree_cpu_seconds must return a positive, monotone reading that
    registers CPU this process burns: ~0.3s of spin moves the tree
    total by at least 0.1s (jiffy granularity is 10ms, so the check has
    30x headroom) and never by more than the elapsed wall times the
    core count."""
    t0 = _tree_cpu_seconds()
    assert t0 is not None and t0 > 0
    import time as _t

    spin_until = _t.process_time() + 0.3
    while _t.process_time() < spin_until:
        pass
    t1 = _tree_cpu_seconds()
    assert t1 is not None
    assert t1 - t0 >= 0.1, (t0, t1)


def _assert_final_line(record: dict) -> dict:
    """bench's own final line for ``record``: inside the 2000-char
    stdout tail the BENCH_r*.json snapshots keep, valid JSON with the headline keys, and its
    query medians a prefix of the cost-descending order."""
    line = bench._final_line(record)
    assert len(line) < 2000, len(line)
    parsed = json.loads(line)
    assert parsed["metric"] == "headline_queries_total"
    for key in ("value", "n", "cpu"):
        assert isinstance(parsed[key], (int, float)), key
    timings = record["queries"]
    order = sorted(timings, key=lambda n: (-timings[n], n))
    kept = list(parsed["queries"])
    assert kept == order[: len(kept)]
    assert parsed["q_omitted"] == len(timings) - len(kept)
    return parsed


def test_compact_line_query_foldin_respects_tail_budget():
    """Worst case: 88 long names, max-width headline values."""
    timings = {
        f"prefix_filter_jaccard_pairs_variant_{i:02d}": round(
            100.0 - i * 0.5, 3
        )
        for i in range(88)
    }
    record = {
        "metric": "headline_queries_total",
        "value": 9999.999,
        "sf": 0.1,
        "set": 5,
        "n": 88,
        "queries": timings,
        "calibration": {"pass_spread": 9.999},
        "cpu_total": 99999.999,
    }
    parsed = _assert_final_line(record)
    assert len(parsed["queries"]) >= 30  # meaningful coverage


def test_final_line_on_last_set5_history_record():
    """The last set-5 record in bench_history.jsonl: with 2-decimal
    medians on the final line, at most 23 of its 88 queries are left
    off."""
    with open(os.path.join(HERE, "bench_history.jsonl")) as fh:
        rows = [json.loads(line) for line in fh if line.strip()]
    record = [r for r in rows if r.get("set") == 5][-1]
    parsed = _assert_final_line(record)
    assert parsed["n"] == 88
    assert parsed["q_omitted"] <= 23, parsed["q_omitted"]
