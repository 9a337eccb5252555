#!/usr/bin/env python
"""Interleaved A/B of corpus entries between two revisions of this repo.

Usage:
    python tools/ab.py REV_A REV_B QUERY [QUERY ...] [--reps N] [--sf DIR]

A revision is anything ``git rev-parse`` resolves to a commit, checked out
with ``git worktree`` under the temp directory for the run, or ``.`` for the
working tree as it is (uncommitted edits included).  Each repetition runs
each side once, in a fresh process, through that revision's own
``tools/profile_stages.py --out`` (warm at sf0.001, then one noop-sink run
at ``--sf``, by default profile_stages' sf0.1), so both sides get the
bench's session and sink, and each sample is a fresh-session floor.  Both sides get the same
``SPARK_GRAFT_CPUS``, and the side that runs first alternates between
repetitions.

Per query it prints each side's median, min and quartiles of ``wall_sec``
and the number of repetitions A was faster; the last stdout line is the
same as one JSON object.
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

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _git(*args: str, cwd: str = REPO) -> subprocess.CompletedProcess:
    return subprocess.run(["git", *args], cwd=cwd, capture_output=True, text=True)


def _checkout(rev: str, tmp: str) -> str:
    """Root directory holding ``rev``: the working tree for ``.``, else a
    fresh detached worktree under ``tmp``."""
    if rev == ".":
        return REPO
    sha = _git("rev-parse", "--verify", "--quiet", f"{rev}^{{commit}}").stdout.strip()
    if not sha:
        sys.exit(f"ab: unknown revision {rev!r}")
    root = os.path.join(tmp, sha[:12])
    if not os.path.isdir(root):
        proc = _git("worktree", "add", "--detach", root, sha)
        if proc.returncode:
            sys.exit(f"ab: cannot check out {rev!r}: {proc.stderr.strip()}")
    return root


def _run_side(root: str, queries: list[str], sf_args: list[str], env: dict, out: str) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(root, "tools", "profile_stages.py"),
         *queries, *sf_args, "--out", out],
        cwd=root, env=env, capture_output=True, text=True,
    )
    if proc.returncode:
        sys.exit(f"ab: profile_stages failed in {root}:\n{proc.stderr[-2000:]}")
    with open(out) as fh:
        return {n: q["wall_sec"] for n, q in json.load(fh)["queries"].items()}


def run_order(reps: int) -> list[list[str]]:
    """Which side runs first in each repetition: alternating, A first."""
    return [["A", "B"] if rep % 2 == 0 else ["B", "A"] for rep in range(reps)]


def _stats(xs: list[float]) -> dict:
    q1, med, q3 = (
        statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else xs * 3
    )
    return {"median": round(med, 3), "min": min(xs), "q1": round(q1, 3), "q3": round(q3, 3)}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("rev_a")
    ap.add_argument("rev_b")
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--sf", help="data directory (default: profile_stages' own)")
    args = ap.parse_args()
    if args.reps < 1:
        sys.exit("ab: --reps must be at least 1")

    from datafusion_ballista_python_spark.corpus import load_all
    from datafusion_ballista_python_spark.session import local_cpus

    unknown = sorted(set(args.queries) - set(load_all()))
    if unknown:
        sys.exit(f"ab: unknown corpus entries {unknown}")

    env = {**os.environ, "SPARK_GRAFT_CPUS": str(local_cpus())}
    sf_args = ["--sf", args.sf] if args.sf else []
    tmp = tempfile.mkdtemp(prefix="ab-")
    roots = {}
    try:
        roots = {"A": _checkout(args.rev_a, tmp), "B": _checkout(args.rev_b, tmp)}
        walls: dict[str, dict[str, list[float]]] = {
            side: {q: [] for q in args.queries} for side in roots
        }
        order = run_order(args.reps)
        for rep, sides in enumerate(order):
            for side in sides:
                out = os.path.join(tmp, f"{side}{rep}.json")
                for q, t in _run_side(roots[side], args.queries, sf_args, env, out).items():
                    walls[side][q].append(t)
            print(f"rep {rep}: {sides[0]} first", flush=True)
    finally:
        for root in set(roots.values()) - {REPO}:
            _git("worktree", "remove", "--force", root)
        shutil.rmtree(tmp, ignore_errors=True)

    summary = {"rev_a": args.rev_a, "rev_b": args.rev_b, "sf_dir": args.sf,
               "cpus": env["SPARK_GRAFT_CPUS"], "order": order, "queries": {}}
    for q in args.queries:
        a, b = walls["A"][q], walls["B"][q]
        wins = sum(x < y for x, y in zip(a, b))
        summary["queries"][q] = {"A": a, "B": b, "A_stats": _stats(a),
                                 "B_stats": _stats(b), "A_wins": wins}
        for side, xs in (("A", a), ("B", b)):
            s = _stats(xs)
            print(f"{q} {side}: median {s['median']:.3f}s min {s['min']:.3f}s"
                  f" q1 {s['q1']:.3f}s q3 {s['q3']:.3f}s")
        print(f"{q}: A faster in {wins}/{len(a)} reps")
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
