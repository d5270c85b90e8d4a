"""Bench prior-round selection (ADVICE r7, low): the calibration /
outlier baselines must come from the genuine PRIOR round, never from
a recording of the round currently being benchmarked — a self-ratio
host_factor of ~1 would silently mask the host normalization.  Pure
file-fixture tests, no Spark."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench


def _write(tmp_path, name, doc):
    (tmp_path / name).write_text(json.dumps(doc))


def _bench_doc(median, queries=None, sf=0.1):
    tail = json.dumps(
        {
            "queries": queries or {},
            "sf": sf,
            "calibration": {"query": "tpch_q6", "median_sec": median},
        }
    )
    return {"n": 0, "rc": 0, "sf": sf, "tail": tail, "parsed": None}


def test_current_round_is_verdict_round_plus_one(tmp_path):
    (tmp_path / "VERDICT.md").write_text("# VERDICT — Round 7\n\nbody")
    assert bench._current_round(str(tmp_path)) == 8


def test_current_round_none_without_verdict(tmp_path):
    assert bench._current_round(str(tmp_path)) is None


def test_prior_excludes_current_round_recording(tmp_path):
    """The ADVICE repro: BENCH for the in-progress round already on
    disk (post-driver-flush re-run) must NOT be chosen as prior."""
    (tmp_path / "VERDICT.md").write_text("# VERDICT — Round 7\n")
    _write(tmp_path, "BENCH_r06.json", _bench_doc(0.40))
    _write(tmp_path, "BENCH_r07.json", _bench_doc(0.50))
    _write(tmp_path, "BENCH_r08.json", _bench_doc(0.99))  # current round
    got = bench.prior_calibration(str(tmp_path))
    assert got["round"] == 7 and got["median_sec"] == 0.50


def test_prior_without_verdict_excludes_highest_bench(tmp_path):
    """ADVICE r8: no VERDICT.md (round unknown) must not silently
    consider ALL rounds — the highest-numbered BENCH file is assumed
    to belong to the in-progress round and is excluded."""
    _write(tmp_path, "BENCH_r06.json", _bench_doc(0.40))
    _write(tmp_path, "BENCH_r07.json", _bench_doc(0.99))  # presumed current
    got = bench.prior_calibration(str(tmp_path))
    assert got["round"] == 6 and got["median_sec"] == 0.40


def test_prior_picks_highest_eligible_round(tmp_path):
    (tmp_path / "VERDICT.md").write_text("# VERDICT — Round 9\n")
    _write(tmp_path, "BENCH_r03.json", _bench_doc(0.30))
    _write(tmp_path, "BENCH_r07.json", _bench_doc(0.70))
    got = bench.prior_calibration(str(tmp_path))
    assert got["round"] == 7 and got["median_sec"] == 0.70


def test_prior_query_timings_respects_sf(tmp_path):
    (tmp_path / "VERDICT.md").write_text("# VERDICT — Round 2\n")
    _write(
        tmp_path,
        "BENCH_r01.json",
        _bench_doc(0.4, {"tpch_q6": 0.45, "candles_1m": 1.2}, sf=0.1),
    )
    got = bench.prior_query_timings(0.1, str(tmp_path))
    assert got["candles_1m"] == 1.2
    # a different scale factor yields no baselines at all
    assert bench.prior_query_timings(0.01, str(tmp_path)) == {}


def test_prior_query_timings_survive_front_truncated_tail(tmp_path):
    """The driver stores only the LAST N chars of the bench line —
    the regex extraction must still read the surviving pairs."""
    (tmp_path / "VERDICT.md").write_text("# VERDICT — Round 2\n")
    full = json.dumps(
        {
            "queries": {"alpha_q": 0.111, "beta_q": 2.345},
            "sf": 0.1,
            "calibration": {"query": "tpch_q6", "median_sec": 0.38},
        }
    )
    cut = full.find('"beta_q"')  # truncation severs alpha_q mid-entry
    doc = {"n": 1, "rc": 0, "sf": 0.1, "tail": full[cut:], "parsed": None}
    _write(tmp_path, "BENCH_r01.json", doc)
    got = bench.prior_query_timings(0.1, str(tmp_path))
    assert got.get("beta_q") == 2.345
    # scalar fields never leak in as query baselines
    assert "median_sec" not in got and "sf" not in got


def test_prior_headline_scalars_from_tail(tmp_path):
    """Throughput outlier protocol (VERDICT r8 #5): the two headline
    rates must be recoverable from a prior tail, sf-gated, and
    'candles_per_sec' must not swallow the streaming figure."""
    (tmp_path / "VERDICT.md").write_text("# VERDICT — Round 9\n")
    tail = json.dumps(
        {
            "sf": 0.1,
            "candles_per_sec": 139011.0,
            "streaming_candles_per_sec": 2648.1,
        }
    )
    _write(
        tmp_path,
        "BENCH_r08.json",
        {"n": 0, "rc": 0, "sf": 0.1, "tail": tail, "parsed": None},
    )
    got = bench.prior_headline_scalars(0.1, str(tmp_path))
    assert got == {
        "candles_per_sec": 139011.0,
        "streaming_candles_per_sec": 2648.1,
    }
    assert bench.prior_headline_scalars(0.01, str(tmp_path)) == {}


def test_repo_fixture_prior_is_round_seven():
    """Against the real repo state during round 8: the prior must be
    r7 (not any file the in-progress round may have produced)."""
    cur = bench._current_round()
    if cur != 8:  # driver has moved on; the invariant is the cap
        prior = bench.prior_calibration()
        assert prior is None or prior["round"] < cur
        return
    prior = bench.prior_calibration()
    assert prior is not None and prior["round"] == 7


def _git(tmp_path, *args):
    import subprocess

    return subprocess.run(
        ["git", *args], cwd=str(tmp_path), capture_output=True, text=True
    )


def test_full_bench_write_protects_committed_recording(tmp_path):
    """VERDICT r10 #3: a re-run against a COMMITTED canonical
    recording lands in a SHA-stamped sidecar the prior loader
    ignores; an uncommitted recording is overwritten in place."""
    (tmp_path / "VERDICT.md").write_text("# VERDICT — Round 7\n")
    _git(tmp_path, "init", "-q")
    _git(tmp_path, "config", "user.email", "t@t")
    _git(tmp_path, "config", "user.name", "t")
    doc = {"sf": 0.1, "calibration": {"median_sec": 0.5}, "queries": {}}
    # first write: no recording yet -> canonical path
    bench._write_full_bench_json(doc, str(tmp_path))
    canon = tmp_path / "docs" / "bench" / "BENCH_r08.full.json"
    assert canon.exists()
    # uncommitted: a re-run overwrites in place, no sidecar
    doc2 = dict(doc, calibration={"median_sec": 0.6})
    bench._write_full_bench_json(doc2, str(tmp_path))
    assert json.loads(canon.read_text())["calibration"]["median_sec"] == 0.6
    siblings = list(canon.parent.glob("BENCH_r08.full.rerun-*.json"))
    assert siblings == []
    # committed: the canonical bytes are frozen, the re-run diverts
    _git(tmp_path, "add", "-A")
    _git(tmp_path, "commit", "-q", "-m", "record r08 bench")
    doc3 = dict(doc, calibration={"median_sec": 0.9})
    bench._write_full_bench_json(doc3, str(tmp_path))
    assert json.loads(canon.read_text())["calibration"]["median_sec"] == 0.6
    siblings = list(canon.parent.glob("BENCH_r08.full.rerun-*.json"))
    assert len(siblings) == 1
    assert (
        json.loads(siblings[0].read_text())["calibration"]["median_sec"]
        == 0.9
    )
    # the sidecar is append-only too: a second re-run at the same SHA
    # counts up instead of clobbering the first recording
    doc4 = dict(doc, calibration={"median_sec": 1.1})
    bench._write_full_bench_json(doc4, str(tmp_path))
    siblings = sorted(canon.parent.glob("BENCH_r08.full.rerun-*.json"))
    assert len(siblings) == 2
    medians = {
        json.loads(p.read_text())["calibration"]["median_sec"]
        for p in siblings
    }
    assert medians == {0.9, 1.1}
    # the prior loader still reads the canonical recording only
    loaded = bench._full_bench_json(8, str(tmp_path))
    assert loaded["parsed"]["calibration"]["median_sec"] == 0.6
    # and _latest_prior_bench's regex never picks up the sidecar
    (tmp_path / "VERDICT.md").write_text("# VERDICT — Round 8\n")
    best = bench._latest_prior_bench(str(tmp_path))
    assert best is not None and best[0] == 8
    assert best[1]["parsed"]["calibration"]["median_sec"] == 0.6


# --- calibration BASKET (VERDICT r12 #1): the host factor is the
# median of per-anchor ratios, never a single noisy query's ratio ---


def _basket(**medians):
    return {
        "query": "basket",
        "median_sec": round(sum(medians.values()), 4),
        "basket": {
            k: {"median_sec": v, "reps_sec": [v, v, v]}
            for k, v in medians.items()
        },
    }


def test_host_factor_basket_to_basket_is_median_of_ratios():
    cur = _basket(a=0.5, b=1.0, c=2.0, d=4.0, e=0.1)
    pri = _basket(a=0.5, b=0.5, c=1.0, d=1.0, e=1.0)
    # ratios: a=1.0, b=2.0, c=2.0, d=4.0, e=0.1 -> sorted
    # [0.1, 1.0, 2.0, 2.0, 4.0] -> median 2.0 (odd count: middle)
    got = bench.compute_host_factor(cur, pri)
    assert got["host_factor"] == 2.0
    assert set(got["ratios"]) == {"a", "b", "c", "d", "e"}
    assert all(r["source"] == "basket" for r in got["ratios"].values())


def test_host_factor_even_anchor_count_averages_middle_pair():
    cur = _basket(a=1.0, b=2.0, c=3.0, d=10.0)
    pri = _basket(a=1.0, b=1.0, c=1.0, d=1.0)
    # ratios sorted [1.0, 2.0, 3.0, 10.0] -> (2.0 + 3.0) / 2 = 2.5
    got = bench.compute_host_factor(cur, pri)
    assert got["host_factor"] == 2.5


def test_host_factor_single_outlier_anchor_cannot_move_median():
    """The r12 failure mode: one anchor (tpch_q6) on a 2x-noisy slot.
    With the basket, the factor stays at the stable anchors' 1.0."""
    cur = _basket(tpch_q6=1.0, tpch_q3=1.0, sma_20=1.0, candles_1m=1.0)
    pri = _basket(tpch_q6=0.45, tpch_q3=1.0, sma_20=1.0, candles_1m=1.0)
    got = bench.compute_host_factor(cur, pri)
    assert got["host_factor"] == 1.0  # not the 2.2x single-anchor ratio


def test_host_factor_falls_back_to_legacy_and_suite_priors():
    """r12->r13 transition: the prior round recorded only the legacy
    single-query calibration plus in-suite timings.  The legacy
    median covers its own anchor (source='calibration'); other
    anchors fall back to suite single-shots (source='suite');
    anchors with no prior at all are skipped."""
    cur = _basket(tpch_q6=0.5, tpch_q3=1.0, doc_token_stats=1.0)
    pri = {"round": 12, "query": "tpch_q6", "median_sec": 0.5}
    got = bench.compute_host_factor(
        cur, pri, prior_queries={"tpch_q3": 2.0}
    )
    # tpch_q6: 0.5/0.5=1.0 (calibration), tpch_q3: 1.0/2.0=0.5
    # (suite), doc_token_stats skipped -> median of [0.5, 1.0] = 0.75
    assert got["host_factor"] == 0.75
    assert got["ratios"]["tpch_q6"]["source"] == "calibration"
    assert got["ratios"]["tpch_q3"]["source"] == "suite"
    assert "doc_token_stats" not in got["ratios"]


def test_host_factor_legacy_both_sides_keeps_old_rule():
    cur = {"query": "tpch_q6", "median_sec": 0.6}
    pri = {"query": "tpch_q6", "median_sec": 0.5}
    got = bench.compute_host_factor(cur, pri)
    assert got["host_factor"] == 1.2 and got["ratios"] == {}


def test_host_factor_none_when_no_common_anchor():
    assert bench.compute_host_factor(None, None) is None
    assert (
        bench.compute_host_factor(_basket(a=1.0), {"round": 1}) is None
    )


def test_prior_calibration_inflates_compact_anchor_map(tmp_path):
    """The compact stdout line stores the basket as an anchors map;
    prior_calibration must inflate it so a missing full sidecar
    still yields per-anchor basket priors."""
    (tmp_path / "VERDICT.md").write_text("# VERDICT — Round 14\n")
    tail = json.dumps(
        {
            "sf": 0.1,
            "calibration": {
                "query": "basket",
                "median_sec": 2.5,
                "anchors": {"tpch_q6": 0.5, "tpch_q3": 2.0},
            },
        }
    )
    _write(
        tmp_path,
        "BENCH_r13.json",
        {"n": 0, "rc": 0, "sf": 0.1, "tail": tail, "parsed": None},
    )
    got = bench.prior_calibration(str(tmp_path))
    assert got["round"] == 13 and got["median_sec"] == 2.5
    assert got["basket"]["tpch_q3"]["median_sec"] == 2.0


def test_prior_calibration_from_front_truncated_basket_tail(tmp_path):
    """The driver's tail capture can sever the line's front; the
    brace-balancing extractor must still recover the calibration
    object when it survives in the tail."""
    (tmp_path / "VERDICT.md").write_text("# VERDICT — Round 14\n")
    full = json.dumps(
        {
            "queries": {"zzz": 1.0},
            "sf": 0.1,
            "calibration": {
                "query": "basket",
                "median_sec": 2.5,
                "anchors": {"tpch_q6": 0.5},
            },
        }
    )
    cut = full.find('"sf"')
    _write(
        tmp_path,
        "BENCH_r13.json",
        {"n": 0, "rc": 0, "sf": 0.1, "tail": full[cut:], "parsed": None},
    )
    got = bench.prior_calibration(str(tmp_path))
    assert got is not None and got["basket"]["tpch_q6"]["median_sec"] == 0.5


# --- ingest cost model (VERDICT r12 #6): two-point linear fit ---


def test_ingest_cost_model_fit():
    # t(n) = 2.0 + 0.004*n  ->  points (1000, 6.0), (3000, 14.0)
    got = bench._ingest_cost_model([("small", 1000, 6.0), ("large", 3000, 14.0)])
    fit = got["fit"]
    assert fit["fixed_sec"] == 2.0
    assert fit["per_kitem_sec"] == 4.0
    assert fit["asymptotic_items_per_sec"] == 250.0
    # 80% of asymptotic at n = 4*fixed/k = 4*2.0/0.004 = 2000
    assert fit["crossover_80pct_batch"] == 2000
    assert [p["batch"] for p in got["points"]] == ["small", "large"]


def test_ingest_cost_model_refuses_nonsense():
    # non-positive slope (noise): raw points recorded, no fit
    got = bench._ingest_cost_model([("small", 1000, 6.0), ("large", 3000, 5.9)])
    assert got["fit"] is None and len(got["points"]) == 2
    assert bench._ingest_cost_model([("only", 1000, 6.0)])["fit"] is None
    # equal sizes cannot be fitted
    got = bench._ingest_cost_model([("a", 1000, 6.0), ("b", 1000, 7.0)])
    assert got["fit"] is None


def test_ingest_cost_model_three_point_residual():
    """r14 (VERDICT r13 #6): three sizes give the fit a residual
    check — exactly-linear points fit clean, a bent middle point
    demotes the fit to non-linear."""
    lin = bench._ingest_cost_model(
        [("small", 1000, 6.0), ("mid", 2000, 10.0), ("large", 3000, 14.0)]
    )
    assert lin["fit"]["fixed_sec"] == 2.0
    assert lin["fit"]["max_residual_pct"] == 0.0
    assert "verdict" not in lin["fit"]
    bent = bench._ingest_cost_model(
        [("small", 1000, 6.0), ("mid", 2000, 30.0), ("large", 3000, 14.0)]
    )
    assert bent["fit"] is None or (
        bent["fit"]["verdict"] == "non-linear, investigate"
    )
    # two points still fit exactly (zero residual by construction)
    two = bench._ingest_cost_model(
        [("small", 1000, 6.0), ("large", 3000, 14.0)]
    )
    assert two["fit"]["max_residual_pct"] == 0.0


def test_prior_query_timings_skip_calibration_anchors(tmp_path):
    """r13 review: the basket anchors are REAL query names, so the
    tail-regex fallback must excise the calibration object before
    extracting name:seconds pairs — otherwise isolated start-of-run
    calibration medians get recorded as prior in-suite timings and
    trip spurious outlier re-measures."""
    (tmp_path / "VERDICT.md").write_text("# VERDICT — Round 14\n")
    tail = json.dumps(
        {
            "sf": 0.1,
            "calibration": {
                "query": "basket",
                "median_sec": 2.5,
                "anchors": {"tpch_q6": 0.0001, "sma_20": 0.0002},
            },
            "queries": {"tpch_q6": 0.29, "beta_q": 2.345},
        }
    )
    _write(
        tmp_path,
        "BENCH_r13.json",
        {"n": 0, "rc": 0, "sf": 0.1, "tail": tail, "parsed": None},
    )
    got = bench.prior_query_timings(0.1, str(tmp_path))
    # the real suite timing survives; the anchor medians do not
    assert got["tpch_q6"] == 0.29 and got["beta_q"] == 2.345
    assert got.get("sma_20") is None
    # a tail truncated mid-calibration (only the anchors sub-object
    # survives) is excised by the anchors span instead
    cut = tail.find('"anchors"')
    _write(
        tmp_path,
        "BENCH_r13.json",
        {"n": 0, "rc": 0, "sf": 0.1, "tail": tail[cut:], "parsed": None},
    )
    got = bench.prior_query_timings(0.1, str(tmp_path))
    assert got.get("sma_20") is None and got.get("tpch_q6") == 0.29
