#!/usr/bin/env python3
"""Isolated per-query timing: noop-sink wall-clock for named bench/catalog
queries, repeated, in one engine session (guide §1.4).

    python scripts/qtime.py <query> [<query> ...] [--reps 3] [--sf DIR]

Prints one JSON line per query: {"name": ..., "secs": [...], "min": ...}.
Warm-up: each query runs once at sf0.001 (untimed) so codegen/broadcast
costs land outside the timings — the bench.py methodology.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import _minhash_engine_default  # noqa: E402
from end_end_data_pipeline__spark.plans.catalog import load_all  # noqa: E402
from end_end_data_pipeline__spark.session import get_spark  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    spark = get_spark("qtime")
    qs = load_all()

    extra = {"dedup_minhash_lsh_engine": _minhash_engine_default}

    for name in args.names:
        fn = extra.get(name) or qs[name].fn
        spark.sparkContext.setJobDescription(f"qtime warmup {name}")
        fn(spark, "/root/testdata/sf0.001").write.format("noop").mode(
            "overwrite"
        ).save()
        secs = []
        for i in range(args.reps):
            spark.sparkContext.setJobDescription(f"qtime {name} rep{i}")
            t0 = time.perf_counter()
            fn(spark, args.sf).write.format("noop").mode("overwrite").save()
            secs.append(round(time.perf_counter() - t0, 3))
        print(json.dumps({"name": name, "secs": secs, "min": min(secs)}),
              flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
