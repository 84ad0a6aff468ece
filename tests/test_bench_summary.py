"""Pin the bench stdout summary under the driver's tail-capture window.

The driver keeps the LAST 2,000 characters of bench.py's merged
stdout+stderr and parses the final line as JSON.  Rounds 6-8 all lost the
record (``parsed: null``) to lines that outgrew that window; the summary
is now a fixed-field JSON with no per-query map (spreads live only in the
committed ``bench_runs_latest.json``).  This test makes query-count growth
structurally unable to break the record again.
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench


def test_summary_line_fits_tail_window():
    # worst plausible values: huge total, fractional sf, 5-digit query count
    line = bench.summary_line(999999.999, 0.001, 99999)
    assert len(line) < 1900, f"summary line {len(line)} chars >= 1900"
    parsed = json.loads(line)
    assert parsed["metric"] == "total_query_seconds"
    assert parsed["unit"] == "sec"
    assert set(parsed) == {"metric", "value", "unit", "sf", "n_queries"}


def test_summary_line_has_no_per_query_map():
    line = bench.summary_line(12.3, 0.1, len(bench.HEADLINE))
    assert "queries" not in json.loads(line)
    # even at 10x today's headline count the fixed-field line cannot grow
    assert len(line) < 200


def test_merge_detail_rerun_can_only_lower_minima():
    old = {
        "runs": {"qa": [2.0, 1.5], "qb": [0.5]},
        "min": {"qa": 1.5, "qb": 0.5},
        "repeat_base": 2, "sf": 0.1, "total": 2.0,
    }
    noisy = {
        "runs": {"qa": [6.0, 4.0], "qb": [0.4]},
        "min": {"qa": 4.0, "qb": 0.4},
        "repeat_base": 2, "sf": 0.1, "total": 4.4,
    }
    merged = bench.merge_detail(old, noisy)
    # a contended rerun cannot clobber the quiet floor...
    assert merged["min"]["qa"] == 1.5
    # ...but a faster rerun still lowers it
    assert merged["min"]["qb"] == 0.4
    # histories concatenate; total re-derives from merged minima
    assert merged["runs"]["qa"] == [2.0, 1.5, 6.0, 4.0]
    assert merged["total"] == round(1.5 + 0.4, 3)


def test_merge_detail_new_and_dropped_queries():
    old = {
        "runs": {"qa": [1.0], "q_gone": [9.0]},
        "min": {"qa": 1.0, "q_gone": 9.0},
        "repeat_base": 2, "sf": 0.1, "total": 10.0,
    }
    new = {
        "runs": {"qa": [1.2], "q_new": [0.3]},
        "min": {"qa": 1.2, "q_new": 0.3},
        "repeat_base": 2, "sf": 0.1, "total": 1.5,
    }
    merged = bench.merge_detail(old, new)
    # queries dropped from the headline set drop from the record;
    # first-seen queries enter with their own runs
    assert set(merged["min"]) == {"qa", "q_new"}
    assert merged["min"] == {"qa": 1.0, "q_new": 0.3}


def test_merge_detail_history_cap_keeps_floor():
    old = {
        "runs": {"qa": [0.9] + [5.0] * 9},
        "min": {"qa": 0.9},
        "repeat_base": 2, "sf": 0.1, "total": 0.9,
    }
    new = {
        "runs": {"qa": [4.0, 4.1]},
        "min": {"qa": 4.0},
        "repeat_base": 2, "sf": 0.1, "total": 4.0,
    }
    merged = bench.merge_detail(old, new)
    # the 0.9 run aged out of the capped history but the floor survives
    assert len(merged["runs"]["qa"]) == 10
    assert 0.9 not in merged["runs"]["qa"]
    assert merged["min"]["qa"] == 0.9


def test_merge_detail_no_prior_record():
    new = {"runs": {"qa": [1.0]}, "min": {"qa": 1.0},
           "repeat_base": 2, "sf": 0.1, "total": 1.0}
    assert bench.merge_detail(None, new) is new
    assert bench.merge_detail({}, new) is new


def test_merge_detail_fingerprint_mismatch_resets_floor():
    """ADVICE r10: a historical minimum recorded against OLD query code
    must not mask a regression — a changed fingerprint starts that
    query's history fresh; matching (or pre-fingerprint) records still
    merge minima."""
    old = {
        "runs": {"a": [1.0], "b": [1.0]},
        "min": {"a": 1.0, "b": 1.0},
        "fingerprint": {"a": "aaa", "b": "bbb"},
        "commits": ["c1"],
        "sf": 0.1, "repeat_base": 2, "total": 2.0,
    }
    new = {
        "runs": {"a": [2.0], "b": [2.0]},
        "min": {"a": 2.0, "b": 2.0},
        "fingerprint": {"a": "aaa", "b": "CHANGED"},
        "commits": ["c2"],
        "sf": 0.1, "repeat_base": 2, "total": 4.0,
    }
    merged = bench.merge_detail(old, new)
    assert merged["min"]["a"] == 1.0          # same code: floor kept
    assert merged["min"]["b"] == 2.0          # changed code: fresh floor
    assert merged["runs"]["b"] == [2.0]
    assert merged["commits"] == ["c1", "c2"]
    assert merged["total"] == 3.0
    # records from before fingerprints existed merge as before
    legacy = {"runs": {"a": [0.5]}, "min": {"a": 0.5}}
    merged2 = bench.merge_detail(legacy, new)
    assert merged2["min"]["a"] == 0.5


def test_merge_detail_core_count_mismatch_resets_floors():
    """Floors carry forward only between records taken on the same core
    count; a record without ``cpus`` counts as a different machine."""
    old = {"runs": {"a": [1.0]}, "min": {"a": 1.0}, "cpus": 32}
    new = {"runs": {"a": [2.0]}, "min": {"a": 2.0}, "cpus": 8}
    assert bench.merge_detail(old, new) is new
    assert bench.merge_detail({**old, "cpus": None}, new) is new
    same = bench.merge_detail({**old, "cpus": 8}, new)
    assert same["min"]["a"] == 1.0
    assert same["cpus"] == 8


def test_merge_detail_engine_change_resets_floors(tmp_path):
    """An engine edit that leaves the query functions untouched still
    moves every fingerprint, so no floor from the old engine survives."""
    (tmp_path / "ops.py").write_text("def f():\n    return 1\n")
    (tmp_path / "__pycache__").mkdir()
    (tmp_path / "__pycache__" / "ops.pyc").write_bytes(b"cache")
    queries = {"qa": test_merge_detail_no_prior_record}
    before = bench._query_fingerprints(
        queries, ["qa"], bench._engine_hash(str(tmp_path))
    )
    (tmp_path / "__pycache__" / "ops.pyc").write_bytes(b"other cache")
    assert bench._query_fingerprints(
        queries, ["qa"], bench._engine_hash(str(tmp_path))
    ) == before
    (tmp_path / "ops.py").write_text("def f():\n    return 2\n")
    after = bench._query_fingerprints(
        queries, ["qa"], bench._engine_hash(str(tmp_path))
    )
    assert after["qa"] != before["qa"]
    old = {"runs": {"qa": [1.0]}, "min": {"qa": 1.0}, "fingerprint": before}
    new = {"runs": {"qa": [3.0]}, "min": {"qa": 3.0}, "fingerprint": after}
    merged = bench.merge_detail(old, new)
    assert merged["min"]["qa"] == 3.0
    assert merged["runs"]["qa"] == [3.0]
    # the real package hashes without error and is stable across calls
    assert bench._engine_hash() == bench._engine_hash()
