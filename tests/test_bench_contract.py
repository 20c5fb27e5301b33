"""Bench output contract: the committed artifact carries the host stamp
and a suite big enough to time, the compact last stdout line keeps its
keys and fits the stdout tail, every suite row can be re-timed alone
for the interleaved A/B, the A/B tool summarizes pairs by the pair rule,
and bench.py plus every tool still import."""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_tool(name: str):
    spec = importlib.util.spec_from_file_location(
        f"tools_{name}", os.path.join(ROOT, "tools", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_committed_bench_full_carries_calibration_and_suite_size():
    with open(os.path.join(ROOT, "BENCH_FULL.json")) as f:
        d = json.load(f)
    assert d["calibration"]["sort1m_per_sec_1t"] > 0
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


def test_ab_row_deps_cover_every_suite_row():
    """The interleaved-A/B leg unit must be able to re-time every row
    the cross-round gate can flag (the committed artifact's queries
    block IS the flaggable set)."""
    import bench

    with open(os.path.join(ROOT, "BENCH_FULL.json")) as f:
        d = json.load(f)
    assert set(bench._ROW_DEPS) == set(d["queries"])


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


def test_compact_line_keys_size_and_skipped_grid():
    """The last stdout line carries the summary keys (no derived
    normalized block), fits the stdout tail even with an oversized
    queries block, and passes a skipped matched grid through."""
    import bench

    skipped = {"skipped": "missing /data/gist_1000.bin"}
    out = {
        "metric": "ann_suite_sec", "value": 12.5, "unit": "sec",
        "queries": {"flat_batch": 1.25}, "sf": 0.1, "n_rows": 50_000,
        "ms_per_query": {"flat_batch": 1.25}, "recall_at_10": {"flat_batch": 1.0},
        "calibration": {"sort1m_per_sec_1t": 50.0, "sort1m_per_sec_all": 150.0},
        "matched": skipped, "build_sec": {"ivf": 3.0},
    }
    keys = {"metric", "value", "unit", "queries", "sf", "n_rows",
            "ms_per_query", "recall_at_10", "calibration", "full"}
    small = json.loads(bench.compact_line(out))
    assert set(small) == keys | {"matched"}
    assert "normalized" not in small
    assert small["queries"] == {"flat_batch": 1.25}
    assert small["matched"] == skipped
    assert small["full"] == "BENCH_FULL.json"

    out["queries"] = {f"row_{i:04d}": 1.2345 for i in range(400)}
    line = bench.compact_line(out)
    assert len(line) <= bench.COMPACT_MAX_CHARS <= 1900
    big = json.loads(line)
    assert set(big) == keys | {"matched"}
    assert big["matched"] == skipped
    assert big["calibration"] == out["calibration"]


def test_bench_and_tools_import():
    """bench.py and every tools/*.py import at module level in a fresh
    interpreter (several tools set env defaults on import, so not in
    this process): a deleted name one of them still reads fails here."""
    paths = [os.path.join(ROOT, "bench.py")] + sorted(
        os.path.join(ROOT, "tools", f)
        for f in os.listdir(os.path.join(ROOT, "tools")) if f.endswith(".py"))
    code = (
        "import importlib.util, sys\n"
        "for i, p in enumerate(sys.argv[1:]):\n"
        "    spec = importlib.util.spec_from_file_location(f'm{i}', p)\n"
        "    spec.loader.exec_module(importlib.util.module_from_spec(spec))\n"
        "    print('imported', p)\n"
    )
    r = subprocess.run([sys.executable, "-c", code, *paths], cwd=ROOT,
                       capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stderr[-2000:]
    assert r.stdout.count("imported ") == len(paths)


def _stub_legs(monkeypatch, ab, times: dict[str, list[float | None]]):
    calls: list[str] = []
    left = {side: list(ts) for side, ts in times.items()}

    def fake_leg(repo_dir, row, runs):
        calls.append(repo_dir)
        return left[repo_dir].pop(0)

    monkeypatch.setattr(ab, "_ab_leg", fake_leg)
    return calls


def test_ab_row_pairs_alternate_and_summarize(monkeypatch):
    """Pairs alternate which side runs first; the summary's per-side
    median and quartiles are numpy's linear percentiles over the
    complete pairs, and a tied pair is a win for neither side."""
    ab = _load_tool("ab_row_vs_commit")
    calls = _stub_legs(monkeypatch, ab, {
        "prev": [1.0, 2.0, 3.0, 4.0, 5.0, 9.0],
        "head": [0.5, 2.0, 2.0, 3.0, 4.0, None],
    })
    pairs = ab.run_pairs("prev", "head", "flat_batch", 6, 1)
    assert calls == ["prev", "head", "head", "prev", "prev", "head",
                     "head", "prev", "prev", "head", "head", "prev"]
    assert [p["order"][0] for p in pairs] == ["prev", "head"] * 3
    s = ab.summarize(pairs)
    assert s["pairs"] == 6 and s["complete_pairs"] == 5  # head leg failed
    assert s["prev"] == {"median": 3.0, "q1": 2.0, "q3": 4.0}
    assert s["head"] == {"median": 2.0, "q1": 2.0, "q3": 3.0}
    assert s["head_wins"] == 4 and s["prev_wins"] == 0  # 2.0 vs 2.0 tie
    # 4 of 5 wins and a median gap (1.0) inside prev's IQR (2.0)
    assert not s["head_faster"] and not s["head_slower"]


@pytest.mark.parametrize("head,faster,slower", [
    ([1.0] * 10, True, False),
    ([3.0] * 10, False, True),
    ([1.0] * 8 + [2.5] * 2, False, False),  # 8 of 10 wins: under 9 in 10
])
def test_ab_row_pair_rule(monkeypatch, head, faster, slower):
    ab = _load_tool("ab_row_vs_commit")
    _stub_legs(monkeypatch, ab, {"prev": [2.0] * 10, "head": head})
    s = ab.summarize(ab.run_pairs("prev", "head", "pq_ef80", 10, 1))
    assert (s["head_faster"], s["head_slower"]) == (faster, slower)


def test_ab_row_summary_without_complete_pairs(monkeypatch):
    ab = _load_tool("ab_row_vs_commit")
    _stub_legs(monkeypatch, ab, {"prev": [None, 1.0], "head": [1.0, None]})
    assert ab.summarize(ab.run_pairs("prev", "head", "pq_ef80", 2, 1)) == {
        "pairs": 2, "complete_pairs": 0}


def test_ab_row_rejects_single_run_legs(monkeypatch, capsys):
    """A best-of-1 leg times a cold serve, so --leg-runs below 2 is an
    argparse error that says why, raised before any leg runs."""
    ab = _load_tool("ab_row_vs_commit")
    calls = _stub_legs(monkeypatch, ab, {"prev": [], "head": []})
    with pytest.raises(SystemExit) as exc:
        ab.main(["--row", "pq_ef80", "--commit", "HEAD", "--leg-runs", "1"])
    assert exc.value.code == 2
    assert "--leg-runs must be at least 2" in capsys.readouterr().err
    assert calls == []
    assert ab.parse_args(["--row", "pq_ef80", "--commit", "HEAD"]).leg_runs == 2
