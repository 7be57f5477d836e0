"""Interleaved A/B of the repo benchmark between two versions.

    python3 scripts/perf_ab.py --workload ingest_mixed --pairs 10 \
        --seed-base 100 [--parent HEAD] [--change WORKTREE]

Each side runs ``perfbench/run.py`` from its own checkout in a fresh
temporary directory: a git revision is exported with ``git archive``;
``WORKTREE`` copies the tracked and untracked, not ignored, files of
the current working tree. Pair ``i`` runs both sides on seed
``seed-base + i``, one after the other, alternating which side runs
first. For every workload and end-to-end metric of BENCHMARK.json the
script prints each side's median and Q1-Q3, the share of pairs the
change wins (ties count for neither side), whether the median gap
exceeds the parent's Q1-Q3 distance, and the change's median relative
to the parent's, to compare with the metric's bound. A run that
answers wrongly or fails requests is reported and counted.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

WORKTREE = "WORKTREE"


def _git(repo: str, *args: str, **kw) -> subprocess.CompletedProcess:
    return subprocess.run(["git", "-C", repo, *args], check=True, **kw)


def checkout(repo: str, rev: str, dest: str) -> str:
    """Materialize ``rev`` (or the working tree) of ``repo`` at
    ``dest`` and return ``dest``."""
    os.makedirs(dest)
    if rev == WORKTREE:
        listed = _git(repo, "ls-files", "-z", "-co", "--exclude-standard",
                      capture_output=True).stdout
        for rel in filter(None, listed.decode().split("\0")):
            src = os.path.join(repo, rel)
            if not os.path.isfile(src):
                continue  # deleted in the working tree
            os.makedirs(os.path.join(dest, os.path.dirname(rel)),
                        exist_ok=True)
            shutil.copy2(src, os.path.join(dest, rel))
        return dest
    archive = _git(repo, "archive", "--format=tar", rev,
                   capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)
    return dest


def run_once(side_dir: str, workload: str, seed: int,
             seconds: float) -> dict:
    """One untraced benchmark run; its last stdout line parsed."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=side_dir, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if not lines:
        raise RuntimeError(
            f"{side_dir}: no output (exit {proc.returncode}):\n"
            f"{proc.stderr[-2000:]}")
    out = json.loads(lines[-1])
    out["exit"] = proc.returncode
    return out


def quartiles(vals: list) -> tuple:
    if len(vals) < 2:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4, method="inclusive")
    return q1, q2, q3


def summarize(metric: dict, pairs: list) -> dict:
    """Compare one end-to-end metric over the (parent, change) run
    pairs. ``metric`` is its BENCHMARK.json entry."""
    name, lower = metric["name"], metric["better"] == "lower"
    par = [p["metrics"][name]["value"] for p, _ in pairs]
    chg = [c["metrics"][name]["value"] for _, c in pairs]
    wins = sum(1 for a, b in zip(par, chg)
               if (b < a if lower else b > a))
    pq1, pmed, pq3 = quartiles(par)
    cq1, cmed, cq3 = quartiles(chg)
    gap = pmed - cmed if lower else cmed - pmed
    # relative change in the "worse" direction, compared to the bound
    worse = (cmed - pmed) / pmed if lower else (pmed - cmed) / pmed
    return {"metric": name, "parent": (pmed, pq1, pq3),
            "change": (cmed, cq1, cq3), "wins": wins,
            "pairs": len(pairs), "gap_beyond_iqr": gap > pq3 - pq1,
            "worse_ratio": worse, "bound": metric.get("bound")}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", action="append", required=True,
                    help="repeat for several workloads")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed-base", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--parent", default="HEAD",
                    help="git revision, or WORKTREE")
    ap.add_argument("--change", default=WORKTREE,
                    help="git revision, or WORKTREE")
    ap.add_argument("--out", help="write every run's record as JSON")
    a = ap.parse_args(argv)

    repo = _git(".", "rev-parse", "--show-toplevel", capture_output=True,
                text=True).stdout.strip()
    work = tempfile.mkdtemp(prefix="perf_ab-")
    try:
        sides = {"parent": checkout(repo, a.parent,
                                    os.path.join(work, "parent")),
                 "change": checkout(repo, a.change,
                                    os.path.join(work, "change"))}
        with open(os.path.join(sides["change"], "BENCHMARK.json")) as fh:
            metrics = json.load(fh)["end_to_end"]
        runs: dict = {}
        for w in a.workload:
            pairs = []
            for i in range(a.pairs):
                seed = a.seed_base + i
                order = ("parent", "change") if i % 2 == 0 \
                    else ("change", "parent")
                got = {}
                for side in order:
                    got[side] = run_once(sides[side], w, seed, a.seconds)
                    print(f"{w} pair {i} seed {seed} {side}: "
                          + " ".join(
                              f"{k}={v['value']:.4g}" for k, v in
                              got[side]["metrics"].items())
                          + f" correct={got[side]['correct']}"
                          f" failed={got[side]['failed']}/"
                          f"{got[side]['attempted']}", flush=True)
                pairs.append((got["parent"], got["change"]))
            runs[w] = pairs
        print()
        print("workload      metric          parent med [Q1-Q3]"
              "          change med [Q1-Q3]          wins   gap>IQR"
              "  worse/bound")
        for w, pairs in runs.items():
            bad = sum(1 for p in pairs for r in p
                      if not r["correct"] or r["failed"])
            for m in metrics:
                s = summarize(m, pairs)
                pm, pq1, pq3 = s["parent"]
                cm, cq1, cq3 = s["change"]
                print(f"{w:13s} {s['metric']:15s} "
                      f"{pm:9.4g} [{pq1:.4g}-{pq3:.4g}]  "
                      f"{cm:9.4g} [{cq1:.4g}-{cq3:.4g}]  "
                      f"{s['wins']:2d}/{s['pairs']:<2d}  "
                      f"{'yes' if s['gap_beyond_iqr'] else 'no':7s}  "
                      f"{s['worse_ratio']:+.3f}/{s['bound']}")
            print(f"{w:13s} runs answering wrongly or failing "
                  f"requests: {bad}")
        if a.out:
            with open(a.out, "w") as fh:
                json.dump(runs, fh, indent=1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
