"""Unit tests for the round-close sweep gate's pure helpers (the
git/sweep-log plumbing is exercised for real at every round close).

VERDICT r9 #6: the driver's post-round flush leaves untracked round
artifacts (BENCH_r*/CORRECTNESS_r*/COPYCHECK/LEAKCHECK) in the tree —
files the gate's own _DOC_ONLY rule deems harmless — so they must not
block the gate; any tracked modification or other untracked file
still does.  ADVICE r9: a failed __spark_entry__ import must FAIL the
gate, not fall back to a hardcoded (stale) surface size.
"""

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from sweep_gate import _blocking_dirt, _expected_total  # noqa: E402


def test_driver_artifacts_do_not_dirty_the_gate():
    lines = [
        "?? BENCH_r10.json",
        "?? CORRECTNESS_r10.json",
        "?? COPYCHECK.json",
        "?? LEAKCHECK.json",
        "?? docs/bench/BENCH_r10.full.json",
        "?? NOTES.md",
    ]
    assert _blocking_dirt(lines) == []


def test_untracked_py_and_tracked_changes_still_block():
    assert _blocking_dirt(["?? sneaky.py"]) == ["?? sneaky.py"]
    assert _blocking_dirt([" M bench.py"]) == ["M bench.py"]
    assert _blocking_dirt(["M  tools/sweep_gate.py"]) == [
        "M  tools/sweep_gate.py"
    ]
    # a modification to a TRACKED round artifact is suspicious (the
    # driver writes fresh ones, it does not edit committed history) —
    # tracked changes always block, doc-pattern or not
    assert _blocking_dirt([" M BENCH_r09.json"]) == ["M BENCH_r09.json"]
    assert _blocking_dirt(["", "   "]) == []


def test_expected_total_sizes_the_live_registry():
    # in this environment the real registry imports; the gate must
    # report its live size (>= the r9 surface), never a stale constant
    total = _expected_total()
    assert total is not None and total >= 155
