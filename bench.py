#!/usr/bin/env python3
"""Benchmark harness: runs the catalog's headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "headline_total_sec", "value": N, "unit": "sec",
     "queries": {"q": sec, ...}, "sf": 0.1, "codegen_compiles": N, ...}

``codegen_compiles`` / ``codegen_compile_sec`` count the Janino
compiles of the timed loop alone (driver JVM; all of it in local
mode): near 0 means the sf0.001 warm-up held.

    python3 bench.py --only NAME [NAME ...] [--reps 3] [--sf DIR]

times the named catalog (or bench-extra) queries instead, each after
its own sf0.001 warm-up, printing one line per query:
``{"name": ..., "secs": [...], "min": ...}``.

Execution is measured with the noop sink — the full physical plan runs
JVM-side (scan → shuffle → agg) with zero collect/serialization cost,
so the number reflects engine throughput, not driver transfer.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

from end_end_data_pipeline__spark.plans.catalog import load_all
from end_end_data_pipeline__spark.session import codegen_compiles, get_spark

SF_WARM = "/root/testdata/sf0.001"


# Bench-only extras measured OUTSIDE the catalog: the engine-default
# xxhash64 MinHash-LSH path.  The catalog/headline query runs the
# md5 hash family so DuckDB can bit-replicate the whole pipeline
# (the verifiability contract); users run the xxhash64 default, so
# the bench reports that path too.  It is not a catalog query —
# xxhash64 has no DuckDB twin, and a rows-only catalog entry would
# weaken the 194/194 oracle-backed surface for a measurement we can
# take directly.
def _minhash_engine_default(spark, sfd):
    from end_end_data_pipeline__spark.operators import dedup
    from end_end_data_pipeline__spark.sources import lake

    docs = lake.load_table(spark, "documents", sfd)
    return dedup.minhash_lsh_pairs(
        docs, "text", "doc_id", n=3, num_hashes=32, bands=8,
        verify_threshold=0.5, hash_family="xxhash64",
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--only", nargs="+", metavar="NAME")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument(
        "--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()
    sf_dir = args.sf
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    spark = get_spark("bench")
    catalog = load_all()
    extra_fns = {"dedup_minhash_lsh_engine": _minhash_engine_default}

    def run_query(name: str, sfd: str) -> float:
        fn = extra_fns.get(name) or catalog[name].fn
        t0 = time.perf_counter()
        fn(spark, sfd).write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 3)

    if args.only:
        for name in args.only:
            run_query(name, SF_WARM)
            secs = [run_query(name, sf_dir) for _ in range(args.reps)]
            print(json.dumps({"name": name, "secs": secs, "min": min(secs)}),
                  flush=True)
        spark.stop()
        return 0

    # Fixed-work context probe (VERDICT r09 task 6): a pinned synthetic
    # job that touches NO engine code and NO files — 4B xxhash64 rows
    # across 64 splits, pure whole-stage-codegen CPU.  Its wall-clock
    # depends only on machine state (CPU contention, thermal/page-cache
    # pressure), so round-over-round driver headline moves can be
    # attributed: probe flat + headline up = code/plan regression;
    # probe up proportionally = context elevation (the r07-r09 drift
    # pattern).  Median of 3 after one untimed warm run; quiet-box
    # reference ~0.6 s (measured at r10 calibration).  Read once before
    # and once after the queries and reported as is: the run never
    # waits on it.
    def _context_probe() -> float:
        job = lambda: spark.range(0, 4_000_000_000, 1, 64).selectExpr(
            "sum(bit_count(xxhash64(id))) as s"
        ).collect()
        job()  # codegen warm-up, untimed
        reps = []
        for _ in range(3):
            t0 = time.perf_counter()
            job()
            reps.append(time.perf_counter() - t0)
        return round(sorted(reps)[1], 3)

    context_probe_sec = _context_probe()
    queries = {n: q for n, q in catalog.items() if q.bench}

    # Fixed measurement order (the BENCH_r01 sequence) so per-query
    # ratchet numbers stay comparable round-to-round: catalog priority
    # reorders presentation, and a query's position in the session
    # (cold vs warm JVM) moves its wall-clock by 1.5-2x.  New bench
    # entries append after the pinned set, sorted by name.
    _ORDER = (
        "flagship_monthly_segment_volume",
        "join_geo_rollup",
        "join_order_lineitem_detail",
        "agg_pricing_summary",
        "window_running_total_per_user",
        "asof_click_before_purchase",
        "cdc_roundtrip_latest_state",
        "dedup_ngram_jaccard_pairs",
        "dedup_minhash_lsh_pairs",
        "embedding_cosine_topk",
        "tpch_q3_shipping_priority",
        "tpch_q18_large_volume_customers",
    )
    rank = {n: i for i, n in enumerate(_ORDER)}
    ordered = sorted(queries, key=lambda n: (rank.get(n, len(rank)), n))
    # the ratchet contract is the pinned 12; round-5 bench additions
    # (q9, the versioned merge, PII redaction) report as extra columns
    # and do NOT move headline_total_sec
    pinned = [n for n in ordered if n in rank]
    extras = [*(n for n in ordered if n not in rank), *extra_fns]

    # JVM/codegen warmup on the smallest fixture (not timed): run every
    # bench query once so codegen/broadcast warmup cost lands here, not
    # in whichever query happens to run first.  The session's codegen
    # cache holds every class this generates, so the timed loop reuses
    # them; codegen_compiles shows what it still compiled.
    for name in [*ordered, *extra_fns]:
        run_query(name, SF_WARM)

    n0, sec0 = codegen_compiles(spark)
    timings = {name: run_query(name, sf_dir) for name in [*ordered, *extra_fns]}
    n1, sec1 = codegen_compiles(spark)

    out = {
        "metric": "headline_total_sec",
        "value": round(sum(timings[n] for n in pinned), 3),
        "unit": "sec",
        "queries": timings,
        "extras_total_sec": round(sum(timings[n] for n in extras), 3),
        "context_probe_sec": context_probe_sec,
        "context_probe_end_sec": _context_probe(),
        "sf": sf,
        "codegen_compiles": n1 - n0,
        "codegen_compile_sec": round(sec1 - sec0, 3),
    }
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
