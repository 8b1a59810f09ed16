#!/usr/bin/env python3
"""Dump ``.explain("formatted")`` for bench queries into plans/r13/
(override with $PLANS_DIR).

    python scripts/plan_dump.py before            # plans/r13/<q>_before.txt
    python scripts/plan_dump.py after q1 q2 ...   # only the named queries

The dump is the DRY (pre-execution) plan at the bench fixture
($SPARK_GRAFT_SF_DIR, default sf0.1) under the engine session — the
optimization round's evidence files: Exchange count, join strategy,
PushedFilters/ReadSchema, codegen spans, Python-eval nodes.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import _minhash_engine_default  # noqa: E402
from end_end_data_pipeline__spark.plans.catalog import load_all  # noqa: E402
from end_end_data_pipeline__spark.session import get_spark  # noqa: E402


def main() -> int:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = Path(__file__).resolve().parent.parent / "plans" / os.environ.get(
        "PLANS_DIR", "r13"
    )
    out_dir.mkdir(parents=True, exist_ok=True)

    spark = get_spark("plan_dump")
    queries = {n: q.fn for n, q in load_all().items() if q.bench}

    # the bench-only engine-default minhash extra
    queries["dedup_minhash_lsh_engine"] = _minhash_engine_default

    targets = names or sorted(queries)
    for name in targets:
        df = queries[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = out_dir / f"{name}_{tag}.txt"
        path.write_text(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
