"""Interleaved fresh-JVM A/B of ONE sf-suite bench row against an
arbitrary commit: the regression rule for bench.py's suite rows.

Each pair times the row once in a worktree of ``--commit`` ("prev") and
once in this checkout ("head"), every leg in a fresh process + JVM
(``bench.py --ab-row``). This checkout's bench.py is copied into the
worktree, so both legs share the timing loop and only the package code
differs. Pairs alternate which side runs first.

The summary is the perfbench pair rule: each side's median and
quartiles of leg times over the complete pairs, and the pairs each side
won (a tie or a pair with a failed leg counts for neither). Head is
faster (slower) only if it wins (loses) at least 9 in 10 of all pairs
run AND the medians differ by more than prev's interquartile range.
Raw host-speed stamps from both ends of the window are recorded
alongside, as measured.

Usage:
    python tools/ab_row_vs_commit.py --row ivf_probe50pct \
        --commit 6932a6b [--pairs 10] [--leg-runs 2] [--out docs/X.json]

``--leg-runs`` is at least 2: a leg's first run times a cold serve.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402

#: seconds one leg (fresh JVM, index builds, RUNS timed repetitions) may take
LEG_TIMEOUT_S = 1800
#: share of all pairs run one side must win, and the median gap must
#: exceed prev's interquartile range (the perfbench pair rule)
WIN_SHARE = 0.9


def _ab_leg(repo_dir: str, row: str, runs: int) -> float | None:
    """One A/B leg: a FRESH process+JVM times one suite row in
    ``repo_dir``'s code; returns its best-of-``runs`` seconds, or None
    when the leg fails."""
    env = dict(os.environ, BENCH_RUNS=str(runs))
    try:
        out = subprocess.run(
            [sys.executable, os.path.join(repo_dir, "bench.py"), "--ab-row", row],
            cwd=repo_dir, env=env, capture_output=True, text=True,
            timeout=LEG_TIMEOUT_S,
        )
        for line in reversed(out.stdout.strip().splitlines()):
            try:
                d = json.loads(line)
            except ValueError:
                continue
            if d.get("row") == row:
                return float(d["best_sec"])
        sys.stderr.write(f"[ab] leg failed for {row}: {out.stderr[-500:]}\n")
        return None
    except (subprocess.SubprocessError, OSError) as e:
        sys.stderr.write(f"[ab] leg errored for {row}: {e}\n")
        return None


def run_pairs(prev_dir: str, head_dir: str, row: str, n_pairs: int,
              leg_runs: int) -> list[dict]:
    """``n_pairs`` pairs of legs; even pairs run prev first, odd pairs
    head first, so a drift within the window loads both sides alike."""
    pairs = []
    for i in range(n_pairs):
        order = ("prev", "head") if i % 2 == 0 else ("head", "prev")
        pair: dict = {"order": list(order)}
        for side in order:
            pair[side] = _ab_leg(prev_dir if side == "prev" else head_dir,
                                 row, leg_runs)
            print(f"pair {i} leg {side}: {pair[side]}", flush=True)
        pairs.append(pair)
    return pairs


def _quartiles(xs: list[float]) -> dict:
    q1, med, q3 = np.percentile(xs, [25, 50, 75])
    return {"median": round(float(med), 4), "q1": round(float(q1), 4),
            "q3": round(float(q3), 4)}


def summarize(pairs: list[dict]) -> dict:
    """Per-side median and quartiles over the complete pairs, the pairs
    each side won, and the pair rule read both ways."""
    done = [p for p in pairs if p["prev"] is not None and p["head"] is not None]
    out: dict = {"pairs": len(pairs), "complete_pairs": len(done)}
    if not done:
        return out
    prev = [p["prev"] for p in done]
    head = [p["head"] for p in done]
    out["prev"] = _quartiles(prev)
    out["head"] = _quartiles(head)
    out["head_wins"] = sum(h < p for p, h in zip(prev, head))
    out["prev_wins"] = sum(p < h for p, h in zip(prev, head))
    iqr = out["prev"]["q3"] - out["prev"]["q1"]
    gap = out["prev"]["median"] - out["head"]["median"]
    out["head_faster"] = out["head_wins"] >= WIN_SHARE * len(pairs) and gap > iqr
    out["head_slower"] = out["prev_wins"] >= WIN_SHARE * len(pairs) and -gap > iqr
    return out


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser()
    ap.add_argument("--row", required=True)
    ap.add_argument("--commit", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--leg-runs", type=int, default=2)
    ap.add_argument("--out", default=None)
    ap.add_argument("--label", default=None)
    args = ap.parse_args(argv)
    if args.leg_runs < 2:
        ap.error("--leg-runs must be at least 2: a leg's first run times a "
                 "cold serve in a fresh JVM, so a best-of-1 leg measures the "
                 "start-up, not the row")
    return args


def main(argv: list[str] | None = None) -> None:
    args = parse_args(argv)

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    cal_start = bench.host_calibration()
    wt = tempfile.mkdtemp(prefix="ab_row_wt_")
    try:
        subprocess.run(
            ["git", "worktree", "add", "--force", "--detach", wt, args.commit],
            cwd=here, check=True, capture_output=True, timeout=120,
        )
        shutil.copy2(os.path.join(here, "bench.py"), os.path.join(wt, "bench.py"))
        pairs = run_pairs(wt, here, args.row, args.pairs, args.leg_runs)
    finally:
        subprocess.run(["git", "worktree", "remove", "--force", wt],
                       cwd=here, capture_output=True, timeout=120)
        shutil.rmtree(wt, ignore_errors=True)
    out = {
        "row": args.row,
        "vs_commit": args.commit,
        "label": args.label,
        "leg_runs": args.leg_runs,
        "legs": pairs,
        **summarize(pairs),
        "calibration_start": cal_start,
        "calibration_end": bench.host_calibration(),
    }
    print(json.dumps(out, indent=1))
    if out["complete_pairs"]:
        p, h = out["prev"], out["head"]
        print(f"{args.row}: prev median {p['median']} s [q1 {p['q1']}, q3 {p['q3']}]"
              f" | head median {h['median']} s [q1 {h['q1']}, q3 {h['q3']}]"
              f" | head wins {out['head_wins']}/{out['pairs']}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(out, f, indent=1)
        print("wrote", args.out)


if __name__ == "__main__":
    main()
