"""Tests for the bench harness and its tools.

The tripwire tests (tools/bench_compare.py) are pure Python, no Spark:
its verdict logic must flag exactly the median-past-1.5x-spread-max case
and tolerate format drift (driver wrapper vs sidecar, missing spreads,
added/dropped queries). The rest run bench.py's traced pass and main()
on the shared session: every timed row gets a per-layer record, and one
failing query is recorded instead of aborting the run."""

from __future__ import annotations

import json
import subprocess
import sys
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOL = os.path.join(REPO, "tools", "bench_compare.py")


def _run(tmp_path, cur: dict, prev: dict) -> subprocess.CompletedProcess:
    a = tmp_path / "cur.json"
    b = tmp_path / "prev.json"
    a.write_text(json.dumps(cur))
    b.write_text(json.dumps(prev))
    return subprocess.run(
        [sys.executable, TOOL, str(a), str(b)], capture_output=True, text=True
    )


def test_clean_run_passes(tmp_path):
    prev = {"queries": {"q": 1.0}, "spread": {"q": [0.9, 1.2]}}
    cur = {"queries": {"q": 1.7}}  # 1.7 <= 1.5 * 1.2
    r = _run(tmp_path, cur, prev)
    assert r.returncode == 0, r.stdout
    assert "no regressions" in r.stdout


def test_regression_fails(tmp_path):
    prev = {"queries": {"q": 1.0}, "spread": {"q": [0.9, 1.2]}}
    cur = {"queries": {"q": 1.81}}  # > 1.5 * 1.2 = 1.8
    r = _run(tmp_path, cur, prev)
    assert r.returncode == 1
    assert "REGRESSION" in r.stdout


def test_no_spread_falls_back_to_median(tmp_path):
    prev = {"queries": {"q": 1.0}}  # pre-r5 format: no spread
    assert _run(tmp_path, {"queries": {"q": 1.49}}, prev).returncode == 0
    assert _run(tmp_path, {"queries": {"q": 1.51}}, prev).returncode == 1


def test_new_and_dropped_queries_never_fail(tmp_path):
    prev = {"queries": {"old": 1.0}, "spread": {"old": [1.0, 1.0]}}
    cur = {"queries": {"new": 99.0}}
    r = _run(tmp_path, cur, prev)
    assert r.returncode == 0
    assert "NEW" in r.stdout and "DROPPED" in r.stdout


def test_extended_section_is_checked(tmp_path):
    prev = {
        "queries": {},
        "extended": {"x": 2.0},
        "extended_spread": {"x": [1.8, 2.0]},
    }
    cur = {"queries": {}, "extended": {"x": 3.1}}  # > 1.5 * 2.0
    assert _run(tmp_path, cur, prev).returncode == 1


def test_regression_names_the_layer_that_moved(tmp_path):
    layer = {"build_s": 1.0, "build_jobs": 10, "action_s": 0.5, "cpu_s": 0.4,
             "shuffle_write_bytes": 1000}
    prev = {"queries": {"q": 1.0, "r": 1.0}, "spread": {"q": [0.9, 1.2], "r": [1.0, 1.0]},
            "layers": {"q": layer, "r": layer}}
    cur = {"queries": {"q": 2.5, "r": 1.0},
           "layers": {"q": dict(layer, build_jobs=20, build_s=1.6), "r": layer}}
    r = _run(tmp_path, cur, prev)
    assert r.returncode == 1
    moved = [ln for ln in r.stdout.splitlines() if "moved most" in ln]
    assert moved == [f"{'':36} moved most: build_jobs 10 -> 20"], r.stdout
    # without layers on both sides the output is as before
    del prev["layers"]
    assert "moved most" not in _run(tmp_path, cur, prev).stdout


def test_driver_wrapper_format_accepted(tmp_path):
    prev = {"parsed": {"queries": {"q": 1.0}, "spread": {"q": [1.0, 1.0]}}}
    cur = {"queries": {"q": 1.0}}
    assert _run(tmp_path, cur, prev).returncode == 0


def test_unparsed_driver_wrapper_rejected_with_message(tmp_path):
    prev = {"parsed": None, "tail": "..."}  # the BENCH_r05.json failure mode
    r = _run(tmp_path, {"queries": {}}, prev)
    assert r.returncode != 0
    assert "parsed:null" in r.stdout + r.stderr


def test_bench_compact_line_degrades_instead_of_dying():
    """ADVICE r6 (bench.py:162): an oversized stdout payload must shed
    the bulky per-query maps and still emit parseable JSON with the
    totals intact — never abort after the timing work completed."""
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import bench

    payload = {
        "metric": "headline_total",
        "value": 12.5,
        "unit": "sec",
        "queries": {f"q{i:03d}_{'x' * 30}": 0.1 for i in range(40)},
        "extended": {f"e{i:03d}_{'y' * 30}": 0.2 for i in range(40)},
        "extended_total": 8.0,
        "sf": 0.1,
    }
    line = bench.compact_line(dict(payload), "/tmp/DETAIL.json", cap=1900)
    assert len(line) < 1900
    out = json.loads(line)
    assert out["value"] == 12.5 and out["extended_total"] == 8.0
    assert "extended" not in out  # bulkiest map shed first
    assert out["truncated"] == "see DETAIL.json"
    # an already-compact payload passes through untouched
    small = {"metric": "headline_total", "value": 1.0, "queries": {"q1": 1.0}}
    assert json.loads(bench.compact_line(dict(small), "/tmp/D.json")) == small


TRACED = ["q1_pricing_summary", "streaming_tumbling_window_counts"]


@pytest.fixture(scope="module")
def traced_layers(spark, sf_dir):
    import bench
    from pipeline_query_engine_demo_spark import plans

    walls, layers, errors = bench.traced_pass(spark, sf_dir, TRACED, plans.queries())
    assert errors == {} and set(walls) == set(TRACED)
    return layers


def test_traced_pass_splits_build_from_action(traced_layers):
    """Each bench row carries one per-layer record from the perfbench
    Tracer; the streaming drain runs its micro-batch at build time and
    still has an action of its own."""
    assert set(traced_layers) == set(TRACED)
    for name, row in traced_layers.items():
        assert row["build_s"] > 0 and row["action_s"] > 0, (name, row)
        assert row["stages"] >= 1, (name, row)
        assert row["truncated"] is False, (name, row)
    assert traced_layers["streaming_tumbling_window_counts"]["microbatches"] >= 1


def test_query_profile_prints_the_bench_record(traced_layers, sf_dir):
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "query_profile.py"),
         "q1_pricing_summary", sf_dir, "1"],
        capture_output=True, text=True, timeout=900,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    rec = json.loads(r.stdout.strip().splitlines()[-1])
    assert list(rec) == ["q1_pricing_summary"]
    assert set(rec["q1_pricing_summary"]) == set(traced_layers["q1_pricing_summary"])
    assert rec["q1_pricing_summary"]["truncated"] is False


def test_bench_records_a_failing_query_and_times_the_rest(
    spark, sf_dir, tmp_path, monkeypatch, capsys
):
    import bench
    from pipeline_query_engine_demo_spark import plans

    def boom(spark, sf_dir):
        raise RuntimeError("planted failure\nsecond line")

    registry = plans.queries()
    monkeypatch.setattr(plans, "queries", lambda: {**registry, "boom": boom})
    monkeypatch.setattr(bench, "HEADLINE", ["q1_pricing_summary", "boom"])
    monkeypatch.setattr(bench, "EXTENDED", [])
    detail_path = tmp_path / "detail.json"
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_DETAIL", str(detail_path))
    monkeypatch.setenv("SPARK_GRAFT_BENCH_REPS", "1")
    monkeypatch.delenv("SPARK_GRAFT_BENCH_TIER", raising=False)
    bench.main()
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    detail = json.loads(detail_path.read_text())
    for rec in (payload, detail):
        assert rec["errors"] == {"boom": "RuntimeError: planted failure"}
        assert list(rec["queries"]) == ["q1_pricing_summary"]
        assert rec["value"] == rec["queries"]["q1_pricing_summary"] > 0
        assert rec["extended_total"] == 0
    assert list(detail["cold"]) == ["q1_pricing_summary"]
    assert list(detail["layers"]) == ["q1_pricing_summary"]
