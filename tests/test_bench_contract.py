"""Bench artifact contract: the pieces the cross-round comparison
depends on must not silently disappear — the calibration stamp, the
pinned reference stamp, and the normalized rows (round-9's only open
question was a driver-host slowdown reading as a regression; these
fields are what makes that diagnosable)."""

from __future__ import annotations

import json
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_module_pins_reference_stamp():
    import bench

    for k in ("sort1m_per_sec_1t", "sort1m_per_sec_all",
              "stream_gibps_1t", "stream_gibps_all"):
        assert k in bench._REF_STAMP and bench._REF_STAMP[k] > 0
    assert bench._SINGLE_THREAD_KEYS  # GIL-bound rows normalize by 1t


def test_committed_bench_full_carries_normalized_rows():
    with open(os.path.join(ROOT, "BENCH_FULL.json")) as f:
        d = json.load(f)
    assert d["calibration"]["sort1m_per_sec_1t"] > 0
    norm = d["normalized"]
    assert norm["ref_stamp"] == {
        k: v for k, v in norm["ref_stamp"].items()
    } and norm["host_over_ref_1t"] > 0
    # every raw suite row has a normalized twin
    assert set(norm["queries_sec"]) == set(d["queries"])
    # the suite table is big enough that ms/query is not
    # fixed-overhead dominated (round-9 finding: 2,000 rows was)
    assert d["n_rows"] >= 50_000


def test_committed_bench_full_has_measured_filtered_rows():
    with open(os.path.join(ROOT, "BENCH_FULL.json")) as f:
        d = json.load(f)
    rows = [r for r in d["matched"]["grid"] if r["name"] == "hnsw_filtered_batch"]
    sels = {r["selectivity_pct"] for r in rows}
    assert {50.0, 5.0, 0.5} <= sels
    assert all("exact_fallback_rate" in r and "recall_at_10" in r for r in rows)
    # the oversample-width claim, measured: moderate selectivities hit
    # high recall without falling back on every query
    r50 = [r for r in rows if r["selectivity_pct"] == 50.0]
    assert any(r["recall_at_10"] >= 0.95 and r["exact_fallback_rate"] <= 0.5
               for r in r50)


def test_vs_prev_normalized_compares_against_committed_round():
    """The cross-round gate must anchor on the newest committed
    normalized block and flag >1.2 ratios as regressions."""
    import bench

    prev, rnd = bench._latest_committed_normalized()
    assert rnd >= 10 and prev, "no committed normalized block found"
    cmp = bench._vs_prev_normalized({k: v * 1.5 for k, v in prev.items()})
    assert cmp["prev_round"] == rnd
    assert set(cmp["ratio_vs_prev"]) == set(prev)
    assert set(cmp["regressions_gt_1p2"]) == set(prev)  # all 1.5x
    clean = bench._vs_prev_normalized(dict(prev))
    assert not clean["regressions_gt_1p2"]


def test_ab_row_deps_cover_every_suite_row():
    """The interleaved-A/B leg unit must be able to re-time every row
    the cross-round gate can flag (the committed artifact's queries
    block IS the flaggable set)."""
    import bench

    with open(os.path.join(ROOT, "BENCH_FULL.json")) as f:
        d = json.load(f)
    assert set(bench._ROW_DEPS) == set(d["queries"])


def test_ab_verdict_rule():
    import bench

    assert bench._ab_verdict(0.9) == "cleared"
    assert bench._ab_verdict(1.1) == "cleared"
    assert bench._ab_verdict(1.15) == "inconclusive"
    assert bench._ab_verdict(1.5) == "regression_confirmed"


def test_prev_round_commit_resolves():
    """Adjudication anchors on the commit that added the newest
    committed bench artifact — it must resolve in this repo."""
    import bench

    _, rnd = bench._latest_committed_normalized()
    sha = bench._prev_round_commit(rnd)
    assert sha and len(sha) == 40
    assert bench._prev_round_commit(None) is None


def test_self_adjudicate_schema(monkeypatch):
    """Every flagged entry the adjudicator returns carries the fields
    the verdict contract requires: ratio, ab_head_best, ab_prev_best,
    verdict. Legs are stubbed (prev=1.0s, head=2.0s best-of) — the
    worktree plumbing runs for real against the prev-round commit."""
    import bench

    legs = {"prev": [1.2, 1.0], "head": [2.0, 2.2]}

    def fake_leg(repo_dir, row, runs):
        side = "head" if os.path.abspath(repo_dir) == ROOT else "prev"
        return legs[side].pop(0) if legs[side] else None

    monkeypatch.setattr(bench, "_ab_leg", fake_leg)
    _, rnd = bench._latest_committed_normalized()
    out = bench._self_adjudicate({"pq_ef80": 1.35}, rnd)
    e = out["pq_ef80"]
    assert e["ratio"] == 1.35
    assert e["ab_prev_best"] == 1.0 and e["ab_head_best"] == 2.0
    assert e["verdict"] == "regression_confirmed"


def test_self_adjudicate_escalates_before_confirming(monkeypatch):
    """A would-be confirmation must re-run the full alternation once
    more before it is final: here the first two head legs land on a
    degraded window (2.0, 2.2) and the escalation legs recover the
    quiet value (0.95), so the verdict clears instead of confirming —
    the false-confirmation mode of minute-periodic host noise
    (docs/BENCH_AUDIT_r13.md §4)."""
    import bench

    legs = {"prev": [1.2, 1.0, 1.1, 1.3], "head": [2.0, 2.2, 0.95, 2.1]}

    def fake_leg(repo_dir, row, runs):
        side = "head" if os.path.abspath(repo_dir) == ROOT else "prev"
        return legs[side].pop(0) if legs[side] else None

    monkeypatch.setattr(bench, "_ab_leg", fake_leg)
    _, rnd = bench._latest_committed_normalized()
    out = bench._self_adjudicate({"pq_ef80": 1.35}, rnd)
    e = out["pq_ef80"]
    assert e["escalated_legs"] == 4
    assert e["ab_head_best"] == 0.95
    assert e["verdict"] == "cleared"


def test_self_adjudicate_flags_host_degraded_ab_window(monkeypatch):
    """A confirmation whose HEAD leg ran far slower than the SAME
    code's own suite row this run is an A/B-window artifact ONLY when
    the prev leg is ALSO inflated vs its own committed row (round-14
    ADVICE hardening: cold-JVM inflation is per-side; symmetric
    inflation proves a degraded window, one-sided inflation does not
    mute the confirmation). The downgrade is marked re-run-required.
    With a consistent suite row the confirmation stands."""
    import bench

    def fake_leg_slow(repo_dir, row, runs):
        return 2.0 if os.path.abspath(repo_dir) == ROOT else 1.0

    monkeypatch.setattr(bench, "_ab_leg", fake_leg_slow)
    _, rnd = bench._latest_committed_normalized()
    # BOTH sides inflated: head 2.0 vs suite 0.5, prev 1.0 vs committed
    # 0.4 → symmetric degradation → downgraded, re-run required
    monkeypatch.setattr(bench, "_prev_committed_raw",
                        lambda prev_round: {"pq_ef80": 0.4})
    out = bench._self_adjudicate({"pq_ef80": 1.35}, rnd,
                                 suite_best={"pq_ef80": 0.5})
    e = out["pq_ef80"]
    assert e["verdict"] == "inconclusive_host_degraded"
    assert e["rerun_required"] is True
    assert e["suite_best"] == 0.5 and e["ab_head_best"] == 2.0
    assert e["prev_committed_row"] == 0.4
    # ONE-SIDED inflation: prev leg (1.0) matches its committed row
    # (0.9) while only the head leg is slow → the confirmation stands
    monkeypatch.setattr(bench, "_prev_committed_raw",
                        lambda prev_round: {"pq_ef80": 0.9})
    out = bench._self_adjudicate({"pq_ef80": 1.35}, rnd,
                                 suite_best={"pq_ef80": 0.5})
    assert out["pq_ef80"]["verdict"] == "regression_confirmed"
    # no committed reference → conservative old behavior (downgrade)
    monkeypatch.setattr(bench, "_prev_committed_raw", lambda prev_round: {})
    out = bench._self_adjudicate({"pq_ef80": 1.35}, rnd,
                                 suite_best={"pq_ef80": 0.5})
    assert out["pq_ef80"]["verdict"] == "inconclusive_host_degraded"
    # consistent suite row (leg ≈ suite) → real confirmation survives
    out = bench._self_adjudicate({"pq_ef80": 1.35}, rnd,
                                 suite_best={"pq_ef80": 1.9})
    assert out["pq_ef80"]["verdict"] == "regression_confirmed"


def test_matched_grid_skips_on_missing_gist_input(monkeypatch, tmp_path):
    """Without the GIST sample the matched grid is recorded as skipped,
    naming the missing file, instead of raising before BENCH_FULL.json
    is written."""
    import bench

    def must_not_run(spark):
        raise AssertionError("run_matched called without its GIST inputs")

    missing = str(tmp_path / "gist_1000.bin")
    monkeypatch.setattr(bench, "GIST_BASE", missing)
    monkeypatch.setattr(bench, "run_matched", must_not_run)
    assert bench.matched_or_skipped(None) == {"skipped": f"missing {missing}"}
