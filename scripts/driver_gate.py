#!/usr/bin/env python3
"""Reproduce the round driver's correctness gate as a committed,
re-runnable artifact.

The external driver imports ``__spark_entry__``, runs each of the first
50 ``queries()`` entries at sf0.01 next to its ``oracle_sql()`` DuckDB
statement, and records per-query row-count + schema + value-hash
matches.  This script replicates that check byte-for-byte (same
``tests.oracle.compare`` canonicalization) over ANY slice of the
catalog, so "the full catalog sweeps clean at sf0.01" is one command
instead of a session claim:

    python scripts/driver_gate.py                 # first-50 window
    python scripts/driver_gate.py --all           # whole catalog
    python scripts/driver_gate.py --start 50      # the backlog
    python scripts/driver_gate.py --names q1 q2   # specific queries
    python scripts/driver_gate.py --sf /root/testdata/sf0.001
    python scripts/driver_gate.py --out GATE.json # write a report

Exit code 0 iff every checked query passes.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--sf", default="/root/testdata/sf0.01",
                    help="fixture dir (default: the driver's sf0.01)")
    ap.add_argument("--start", type=int, default=0,
                    help="first catalog position to check (default 0)")
    ap.add_argument("--stop", type=int, default=50,
                    help="one past the last position (default 50 = the window)")
    ap.add_argument("--all", action="store_true",
                    help="check the whole catalog (overrides --start/--stop)")
    ap.add_argument("--names", nargs="*", default=None,
                    help="check only these query names")
    ap.add_argument("--exclude", nargs="*", default=None,
                    help="skip these query names (e.g. the two "
                         "super-heavy-oracle dedup entries at sf1, which "
                         "run via scripts/sf1_dedup_gate.py instead)")
    ap.add_argument("--out", default=None,
                    help="write a CORRECTNESS-style JSON report here")
    ap.add_argument("--master", default="local[8]",
                    help="spark master (vary core count for invariance sweeps)")
    ap.add_argument("--conf", action="append", default=None, metavar="K=V",
                    help="extra spark conf (repeatable) — e.g. "
                         "--conf spark.sql.shuffle.partitions=7 for a "
                         "hostile-config invariance sweep; combine with a "
                         "TZ=Pacific/Kiritimati env var to start the JVM in "
                         "a non-UTC zone (every query must pin its own)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    # vanilla session BY DEFAULT: the driver brings its own (no engine
    # conf), so any query that NEEDS special conf must set it itself.
    # --conf/--master exist to make the sweep HOSTILE instead (odd
    # shuffle-partition counts, AQE off, skewed core counts): every
    # query's hash must be invariant to all of them.
    builder = SparkSession.builder.master(args.master)
    if not args.master.startswith("local["):
        # multi-JVM masters spawn executor python workers that don't
        # inherit this process's sys.path — without the repo root on
        # their PYTHONPATH, any cloudpickled PACKAGE function (pandas
        # UDFs, applyInPandasWithState) dies on deserialization with
        # ModuleNotFoundError.  An explicit --conf wins over this.
        if not any((kv or "").startswith("spark.executorEnv.PYTHONPATH=")
                   for kv in args.conf or []):
            builder = builder.config("spark.executorEnv.PYTHONPATH", REPO)
    for kv in args.conf or []:
        k, _, v = kv.partition("=")
        builder = builder.config(k, v)
    spark = builder.getOrCreate()

    import __spark_entry__ as entry
    from tests.oracle import compare_structured, duck_run

    queries = entry.queries()
    oracles = entry.oracle_sql()
    names = list(queries)
    if args.names:
        unknown = set(args.names) - set(names)
        if unknown:
            print(f"unknown query names: {sorted(unknown)}", file=sys.stderr)
            return 2
        picked = args.names
    elif args.all:
        picked = names
    else:
        picked = names[args.start:args.stop]
    if args.exclude:
        unknown = set(args.exclude) - set(names)
        if unknown:
            print(f"unknown exclude names: {sorted(unknown)}", file=sys.stderr)
            return 2
        picked = [n for n in picked if n not in set(args.exclude)]

    # Multi-JVM masters (local-cluster / standalone / yarn) cannot run
    # the embedded-Derby live-JDBC fixtures: Spark ships derby.jar only
    # (no derbynet/derbyclient), and an embedded database is bootable
    # by ONE JVM — an executor task in a second JVM fails with
    # "Failed to start database".  On a real cluster these queries
    # point at a networked RDBMS URL and run unmodified; here they are
    # skipped with an explicit marker (catalog field `single_jvm`).
    multi_jvm = not args.master.startswith("local[")
    from end_end_data_pipeline__spark.plans.catalog import load_all
    single_jvm_only = {n for n, q in load_all().items() if q.single_jvm}

    report: dict[str, dict] = {}
    n_fail = 0
    for i, name in enumerate(picked):
        t0 = time.time()
        row: dict = {"rows_match": None, "schema_match": None,
                     "hash_match": None, "err": None}
        if multi_jvm and name in single_jvm_only:
            row["err"] = ("SKIP single-JVM fixture: embedded Derby — no "
                          "derbynet/derbyclient jars in container; on a "
                          "cluster S1/S8 use a networked RDBMS URL")
            row["sec"] = 0.0
            report[name] = row
            print(f"[{i + 1}/{len(picked)}] {name}: {row['err'][:60]}",
                  flush=True)
            continue
        try:
            sdf = queries[name](spark, args.sf)
            facets = compare_structured(
                sdf.toPandas(), duck_run(oracles[name], args.sf)
            )
            row["rows_match"] = facets["rows_match"]
            row["schema_match"] = facets["schema_match"]
            row["hash_match"] = facets["hash_match"]
            if facets["err"]:
                row["err"] = facets["err"][:300]
                n_fail += 1
        except Exception as exc:  # noqa: BLE001 — record and keep sweeping
            row["err"] = f"ERR {type(exc).__name__}: {exc}"[:300]
            n_fail += 1
        row["sec"] = round(time.time() - t0, 2)
        report[name] = row
        status = "MATCH" if row["hash_match"] else row["err"]
        print(f"[{i + 1}/{len(picked)}] {name}: {status} ({row['sec']}s)",
              flush=True)

    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=2)
        print(f"report written to {args.out}")
    print(f"checked={len(picked)} failed={n_fail}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
