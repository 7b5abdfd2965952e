#!/usr/bin/env python
"""Interleaved same-box A/B of registry entries: a base revision
against the working tree.

Usage: python tools/ab.py BASE_REV --only a,b,c [--pairs N] [--reps R]

BASE_REV is checked out with ``git worktree add --detach`` in a
temporary directory (``tempfile``, so under /tmp by default); the
working tree is never touched, so uncommitted changes are what the
"new" side measures. The worktree is removed when the run ends,
however it ends.

Each pair runs both sides once, alternating which side goes first
(pair 0 base first, pair 1 new first, ...) so slow drift of the box
loads both sides alike. A side is its own tree's
``bench.py --only ... --reps R --out <tmp>``; its per-entry median of
the R reps is that side's reading for the pair. SPARK_GRAFT_SF_DIR
and the other bench env vars pass through unchanged.

Prints one JSON line: for each entry and side, the per-pair medians
(in pair order), their median and quartiles [q1, q3], and how many
pairs the new side won (was strictly faster).
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


def _run_side(tree: str, only: list[str], reps: int, out: str) -> dict:
    subprocess.run(
        [
            sys.executable,
            os.path.join(tree, "bench.py"),
            "--only",
            ",".join(only),
            "--reps",
            str(reps),
            "--out",
            out,
        ],
        cwd=tree,
        check=True,
        stdout=subprocess.DEVNULL,
    )
    with open(out) as f:
        art = json.load(f)
    return {**art.get("core", {}), **art.get("extended", {})}


def _summary(xs: list[float]) -> dict:
    q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
    return {
        "pair_medians": xs,
        "median": round(statistics.median(xs), 3),
        "quartiles": [round(q[0], 3), round(q[2], 3)],
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("base_rev")
    ap.add_argument("--only", required=True)
    ap.add_argument("--pairs", type=int, default=3)
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()
    only = [n for n in args.only.split(",") if n]

    tmp = tempfile.mkdtemp(prefix="ab_")
    base_tree = os.path.join(tmp, "base")
    subprocess.run(
        ["git", "-C", REPO, "worktree", "add", "--detach", base_tree,
         args.base_rev],
        check=True,
        stdout=subprocess.DEVNULL,
    )
    runs: dict[str, list[dict]] = {"base": [], "new": []}
    try:
        trees = {"base": base_tree, "new": REPO}
        for i in range(args.pairs):
            order = ("base", "new") if i % 2 == 0 else ("new", "base")
            for side in order:
                out = os.path.join(tmp, f"{side}_{i}.json")
                runs[side].append(_run_side(trees[side], only, args.reps, out))
    finally:
        subprocess.run(
            ["git", "-C", REPO, "worktree", "remove", "--force", base_tree],
            check=False,
        )
        shutil.rmtree(tmp, ignore_errors=True)

    entries = {}
    for name in only:
        base = [r[name] for r in runs["base"]]
        new = [r[name] for r in runs["new"]]
        entries[name] = {
            "base": _summary(base),
            "new": _summary(new),
            "new_wins": sum(n < b for b, n in zip(base, new)),
        }
    print(
        json.dumps(
            {
                "base_rev": args.base_rev,
                "pairs": args.pairs,
                "reps": args.reps,
                # None: bench.py's own default scale
                "sf_dir": os.environ.get("SPARK_GRAFT_SF_DIR"),
                "entries": entries,
            }
        )
    )


if __name__ == "__main__":
    main()
