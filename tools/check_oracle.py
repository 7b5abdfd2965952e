#!/usr/bin/env python
"""Local mirror of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin
on DuckDB over the same parquet dir, then compares row count, column
names, and an order-insensitive multiset of canonicalized rows.

Usage: python tools/check_oracle.py [--bare] [--out FILE] [sf_dir]
       [query_name ...]

``--out FILE`` additionally writes a machine-readable result map
``{name: {"status": ok|rows-only|fail, "rows": N, "sec": s}}`` —
``tools/check_oracle_sharded.py`` merges one per shard and reads the
per-entry ``sec`` to balance its shards.

``--bare`` builds a plain ``SparkSession.builder.getOrCreate()`` (no
session.py confs), mirroring the external driver's harness so
session-conf coupling fails here first.

The comparison core (`connect_duck`, `compare_query`) is importable —
``tests/test_full_registry_gate.py`` runs the whole registry through
it so every commit sees what the driver will sample.
"""

from __future__ import annotations

import math
import sys
import time
from collections import Counter

import duckdb

sys.path.insert(0, ".")

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)


def connect_duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def canon(v):
    if v is None:
        return "\x00NULL"
    if isinstance(v, bool):
        return "b:" + str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "f:nan"
        return f"f:{v:.9g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if hasattr(v, "isoformat"):
        return "t:" + v.isoformat()
    return f"{type(v).__name__}:{v}"


def row_multiset(rows):
    return Counter("|".join(canon(v) for v in row) for row in rows)


def compare_query(spark, con, name, fn, oracle, sf_dir):
    """Run one registry entry both ways. Returns (problems, n_rows,
    spark_sec, oracle_sec); ``problems`` is a list of strings, empty
    == green. A rows-only entry (oracle is None) is green unless it
    returns complex-typed columns the driver's comparator would crash
    on. The timing split (r14 verdict item 4) separates Spark
    execution (plan build + collect) from the DuckDB oracle replay,
    so a Spark regression in a bench-tier-less entry is visible in
    the gate artifact instead of being drowned by oracle cost."""
    from pyspark.sql import types as T

    t_spark = time.time()
    sdf = fn(spark, sf_dir)
    scols = [c.lower() for c in sdf.columns]
    # the external driver's comparator (pandas sort_values + hash)
    # crashes on non-scalar cells — flag them as failures here
    complex_cols = [
        f.name
        for f in sdf.schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]
    srows = [tuple(r) for r in sdf.collect()]
    spark_sec = round(time.time() - t_spark, 2)
    problems = []
    if complex_cols:
        problems.append(
            f"driver-incompatible complex-typed columns: {complex_cols}"
        )
    if oracle is None:
        return problems, len(srows), spark_sec, 0.0
    t_oracle = time.time()
    res = con.execute(oracle)
    ocols = [d[0].lower() for d in res.description]
    orows = res.fetchall()
    oracle_sec = round(time.time() - t_oracle, 2)
    # driver sorts columns by name before hashing
    s_ix = sorted(range(len(scols)), key=lambda i: scols[i])
    o_ix = sorted(range(len(ocols)), key=lambda i: ocols[i])
    if sorted(scols) != sorted(ocols):
        problems.append(f"columns {sorted(scols)} != {sorted(ocols)}")
    if len(srows) != len(orows):
        problems.append(f"rowcount {len(srows)} != {len(orows)}")
    if not problems:
        sm = row_multiset([tuple(r[i] for i in s_ix) for r in srows])
        om = row_multiset([tuple(r[i] for i in o_ix) for r in orows])
        if sm != om:
            diff_s = list((sm - om).keys())[:3]
            diff_o = list((om - sm).keys())[:3]
            problems.append(
                f"values spark-only={diff_s} oracle-only={diff_o}"
            )
    return problems, len(srows), spark_sec, oracle_sec


def main() -> int:
    raw = sys.argv[1:]
    bare = "--bare" in raw
    out_path = None
    if "--out" in raw:
        out_path = raw[raw.index("--out") + 1]
        raw = raw[: raw.index("--out")] + raw[raw.index("--out") + 2 :]
    argv = [a for a in raw if a != "--bare"]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.001"
    only = set(argv[1:])

    import __spark_entry__ as e

    if bare:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[32]")
            .appName("oracle-check-bare")
            .config("spark.sql.shuffle.partitions", "32")
            .getOrCreate()
        )
    else:
        from advisorydatapipeline_spark.session import get_spark

        spark = get_spark("oracle-check")
    con = connect_duck(sf_dir)

    qs, oracles = e.queries(), e.oracle_sql()
    n_checked = 0
    failures, no_oracle = [], []
    results: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        n_checked += 1
        t0 = time.time()
        problems, n_rows, spark_sec, oracle_sec = compare_query(
            spark, con, name, fn, oracles.get(name), sf_dir
        )
        # queries may persist() intermediates referenced several
        # times inside their (now fully materialized) plan; drop the
        # pinned blocks so a 297-query gate session doesn't squeeze
        # executor storage memory query over query
        spark.catalog.clearCache()
        results[name] = {
            "status": (
                "fail"
                if problems
                else ("rows-only" if name not in oracles else "ok")
            ),
            "rows": n_rows,
            # sec = whole-entry wall (back-compat: LPT shard weights
            # read it); spark_sec/oracle_sec split it (r14 item 4)
            "sec": round(time.time() - t0, 2),
            "spark_sec": spark_sec,
            "oracle_sec": oracle_sec,
        }
        if name not in oracles:
            no_oracle.append(name)
            flag = f" [{problems[0]}]" if problems else ""
            print(
                f"  ~ {name}: rows-only ({n_rows} rows, "
                f"{time.time()-t0:.1f}s){flag}"
            )
        else:
            status = "ok" if not problems else "FAIL"
            print(f"  {'✓' if not problems else '✗'} {name}: {status} "
                  f"({n_rows} rows, {time.time()-t0:.1f}s)")
            for p in problems:
                print(f"      {p}")
        if problems:
            failures.append(name)

    print(f"\n{n_checked - len(failures) - len(no_oracle)} ok, "
          f"{len(no_oracle)} rows-only, {len(failures)} FAILED")
    if out_path:
        import json

        with open(out_path, "w") as f:
            json.dump({"sf_dir": sf_dir, "results": results}, f, indent=1)
            f.write("\n")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
