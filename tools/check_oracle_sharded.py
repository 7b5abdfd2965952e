#!/usr/bin/env python
"""Sharded full-registry oracle gate (r11 verdict item 8): split the
registry across N worker processes, each running check_oracle.py on
its slice with a private Spark session, then merge the per-shard
``--out`` maps into one artifact identical in shape to a single-
process run. The entries are independent by construction (each builds
its own inputs from the sf_dir parquet; per-process mkdtemp scratch
dirs isolate the format/JDBC fixtures; SPARK_GRAFT_WAREHOUSE is
pointed at a per-shard dir so bucketed saveAsTable targets never
collide).

Cores are divided between shards (SPARK_GRAFT_CPUS = total/N), so
this trades per-query parallelism for pipeline parallelism — a win
because most gate entries are small-data and dominated by fixed
per-query overhead (planning, Python startup, DuckDB replay), not by
32-way scans. Measured on the 346-entry r11 registry: ~10 min solo
-> ~3.5 min with 4 shards.

CORRECTNESS-ONLY tool: never run it while benchmarking (the freeze
protocol's solo-bench rule); the per-query `sec` fields in a sharded
artifact reflect contended cores and are not comparable to solo runs
(the artifact is stamped ``"sharded": N`` so a reader can tell).

Usage: python tools/check_oracle_sharded.py [--shards N] [--out FILE]
       [sf_dir]
An existing ``--out`` FILE from an earlier run supplies the shard
weights (see ``_plan_slices``); the run then overwrites it.
Exit code: nonzero if any shard failed any entry.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time


def main() -> int:
    argv = sys.argv[1:]
    shards = 4
    out_path = None
    if "--shards" in argv:
        i = argv.index("--shards")
        shards = int(argv[i + 1])
        argv = argv[:i] + argv[i + 2 :]
    if "--out" in argv:
        i = argv.index("--out")
        out_path = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.001"

    sys.path.insert(0, ".")
    import __spark_entry__ as e

    names = sorted(e.queries().keys())
    slices = _plan_slices(names, shards, out_path)

    total_cpus = os.cpu_count() or 8
    per = max(2, total_cpus // shards)
    t0 = time.time()
    # Removed in the finally block below — shard JSONs plus per-shard
    # Spark warehouses otherwise accumulate disk per gate run (r12
    # ADVICE item 4).
    tmp = tempfile.mkdtemp(prefix="adp_gate_shards_")
    try:
        return _run(tmp, slices, names, shards, per, out_path, sf_dir, t0)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _plan_slices(names, shards, prev_path):
    """Weighted LPT shard assignment: round-robin by name left the
    sf0.1 wall at 1.7x the per-shard average (459 s vs 269 s — one
    shard drew duplicate_spans_exact AND the asof/mp3 heavies).
    Weights come from the per-entry ``sec`` of the previous artifact
    at ``prev_path`` (this run's ``--out``, read before this run
    overwrites it), but only from a complete, passing one: it must
    time every current entry and fail none. A run that lost a shard
    or stalled on a failure would skew the next run's shards, so any
    other prior file, or none, gives round-robin. Greedy
    longest-processing-time onto the least loaded shard — the classic
    4/3-optimal makespan heuristic."""
    rows = {}
    try:
        with open(prev_path or "") as f:  # no --out: round-robin
            prev = json.load(f)
        rows = prev.get("results", prev)
    except (OSError, ValueError):
        pass
    complete = all(
        isinstance(rows.get(n), dict)
        and rows[n].get("status") != "fail"
        and isinstance(rows[n].get("sec"), (int, float))
        for n in names
    )
    if not complete:
        return [names[i::shards] for i in range(shards)]
    weights = {n: max(float(rows[n]["sec"]), 0.2) for n in names}
    loads = [0.0] * shards
    slices: list[list[str]] = [[] for _ in range(shards)]
    for n in sorted(names, key=lambda n: -weights[n]):
        i = loads.index(min(loads))
        slices[i].append(n)
        loads[i] += weights[n]
    return slices


def _shard_heap(shards: int) -> str:
    """Driver heap per shard: physical memory less 2 GiB per shard for
    the shard's JVM overhead, Python workers and DuckDB, split evenly,
    between 1 GiB and 8 GiB. Four fixed 8 GiB heaps overcommit a 16 GiB
    box twice over, and a shard killed for memory drops its whole
    slice from the gate."""
    phys_mib = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 20
    return f"{min(8192, max(1024, (phys_mib - shards * 2048) // shards))}m"


def _run(tmp, slices, names, shards, per, out_path, sf_dir, t0) -> int:
    rc = 0
    procs = []
    heap = _shard_heap(shards)
    for i, sl in enumerate(slices):
        env = dict(os.environ)
        env["SPARK_GRAFT_CPUS"] = str(per)
        env["SPARK_GRAFT_SHUFFLE"] = str(per)
        env["SPARK_GRAFT_WAREHOUSE"] = f"{tmp}/warehouse_{i}"
        env["SPARK_GRAFT_DRIVER_MEM"] = heap
        procs.append(
            subprocess.Popen(
                [
                    sys.executable,
                    "tools/check_oracle.py",
                    "--out",
                    f"{tmp}/shard_{i}.json",
                    sf_dir,
                    *sl,
                ],
                env=env,
                stdout=subprocess.PIPE,
                stderr=subprocess.STDOUT,
                text=True,
            )
        )
    for i, p in enumerate(procs):
        out, _ = p.communicate()
        tail = [ln for ln in out.splitlines() if ln.strip()][-1:]
        print(f"shard {i}: rc={p.returncode} {tail[0] if tail else ''}")
        if p.returncode:
            rc = p.returncode
            for ln in out.splitlines():
                if "✗" in ln or "FAIL" in ln:
                    print("   ", ln.strip())
    merged: dict[str, dict] = {}
    for i in range(shards):
        path = f"{tmp}/shard_{i}.json"
        if os.path.exists(path):
            with open(path) as f:
                merged.update(json.load(f)["results"])
    n_fail = sum(1 for v in merged.values() if v["status"] == "fail")
    n_ro = sum(
        1 for v in merged.values() if v["status"] == "rows-only"
    )
    print(
        f"\n{len(merged) - n_fail - n_ro} ok, {n_ro} rows-only, "
        f"{n_fail} FAILED ({shards} shards, "
        f"{round(time.time() - t0, 1)}s wall)"
    )
    missing = [n for n in names if n not in merged]
    if missing:
        print(f"MISSING from shard outputs: {missing}")
        rc = rc or 1
    if out_path:
        with open(out_path, "w") as f:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "sharded": shards,
                    "results": merged,
                },
                f,
                indent=1,
            )
            f.write("\n")
    return rc or (1 if n_fail else 0)


if __name__ == "__main__":
    sys.exit(main())
