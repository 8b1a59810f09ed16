#!/usr/bin/env python3
"""100x-scale oracle gate for the two flagship dedup queries that
GATE_r08_sf1.json had to exclude for DuckDB-oracle cost (VERDICT r08
task 1): ``dedup_ngram_jaccard_pairs`` and ``fuzzy_deletion_pairs``.

Their catalog oracles are deliberately brute-force (all-pairs
``a.id < b.id`` joins) — maximal independence from the engine, but
O(n^2): the ngram replay alone was ~9 min at sf0.1, i.e. ~15 h at the
sf1-derived decade.  This gate instead runs EXACT ACCELERATED DuckDB
rewrites whose equivalence to the brute-force oracles is itself
machine-checked first:

- **ngram**: candidates from an uncapped inverted-index join (a pair
  with jaccard >= 0.5 > 0 must share >= 1 shingle, so the index is an
  exact support cover); |intersection| via group-count over shared
  distinct shingles; the jaccard expression keeps the catalog oracle's
  exact operand types (``CAST(inter AS DOUBLE) / (na + nb - inter)``,
  BIGINT denominator) so the division is bit-identical.
- **fuzzy**: candidates from a two-key pigeonhole block cover.  For
  equal-length strings, one substitution at position p leaves either
  the first 15 chars (p >= 15) or the last 3 chars (p <= 14) intact,
  so with every c_name exactly 18 chars (asserted), the union of a
  prefix-15 equi-join and a suffix-3 equi-join contains EVERY pair at
  levenshtein <= 1; survivors are verified with the same
  ``levenshtein`` call the brute oracle makes.  (The 15/3 split is the
  fixture's cost sweet spot: prefix-15 reaches 6 digits past the
  constant ``Cust..er#`` stem — ~1k-name blocks — while suffix-3 keeps
  ~150-name blocks; candidate mass ~9e7 at sf1 vs 1.1e10 brute.)
  Structurally different from the engine's deletion-neighborhood
  (SymSpell) join.

Modes::

    python scripts/sf1_dedup_gate.py --equiv /root/testdata/sf0.01
        # rewrite vs catalog brute oracle, BOTH in DuckDB (no Spark):
        # proves the rewrites exact on real data; cheap at sf0.01,
        # ~10 min at sf0.1 (the brute side)
    python scripts/sf1_dedup_gate.py --run /tmp/sf1-derived --out X.json
        # Spark query at the derived decade vs the accelerated oracle

Evidence chain for the round artifact: rewrite == brute at sf0.01 and
sf0.1 (DuckDB vs DuckDB), Spark == brute at sf0.01/sf0.1 (GATE_r09 /
GATE_r08_sf01), Spark == rewrite at sf1-derived (this gate's --run).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# -- exact accelerated rewrites ---------------------------------------------

# same shingle CTE text as plans/queries_llm._SHINGLE_CTE (the rewrite
# must tokenize identically); imported at runtime to prevent drift.

NGRAM_FAST = """
    WITH {shingle_cte},
    sz AS (SELECT doc_id, len(sh) AS n FROM ds),
    inv AS (SELECT doc_id, unnest(sh) AS s FROM ds),
    cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               count(*) AS inter
        FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(inter AS DOUBLE) / (na.n + nb.n - inter) AS jaccard
    FROM cand
    JOIN sz na ON na.doc_id = doc_a
    JOIN sz nb ON nb.doc_id = doc_b
    WHERE CAST(inter AS DOUBLE) / (na.n + nb.n - inter) >= 0.5
"""

FUZZY_LEN_CHECK = """
    SELECT count(*) AS bad FROM customer WHERE length(c_name) != 18
"""

FUZZY_FAST = """
    WITH k AS (
        SELECT c_custkey, c_name, substr(c_name, 1, 15) AS blk
        FROM customer
        UNION ALL
        SELECT c_custkey, c_name, substr(c_name, 16, 3) AS blk
        FROM customer
    )
    SELECT DISTINCT a.c_custkey AS a_id, b.c_custkey AS b_id,
           CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
    FROM k a JOIN k b ON a.blk = b.blk AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 1
"""


def _ngram_fast_sql() -> str:
    from end_end_data_pipeline__spark.plans.queries_llm import _SHINGLE_CTE

    return NGRAM_FAST.format(shingle_cte=_SHINGLE_CTE.strip())


def _preconditions(sf_dir: str) -> dict:
    """Assert the fixture properties the accelerated forms rely on."""
    from tests.oracle import duck_run

    bad_len = int(duck_run(FUZZY_LEN_CHECK, sf_dir)["bad"][0])
    # a hard RuntimeError, not an assert: the pigeonhole cover carries
    # the fuzzy evidence chain and must survive `python -O` (ADVICE r09)
    if bad_len != 0:
        raise RuntimeError(
            f"fuzzy pigeonhole cover needs every c_name exactly 18 chars; "
            f"{bad_len} rows violate that in {sf_dir}"
        )
    return {"c_name_len_violations": bad_len}


def equiv(sf_dir: str) -> dict:
    """Rewrite vs catalog brute oracle, both in DuckDB."""
    from end_end_data_pipeline__spark.plans.catalog import load_all
    from tests.oracle import _canon, duck_run

    cat = load_all()
    out: dict = {"mode": "equiv", "sf_dir": sf_dir,
                 "preconditions": _preconditions(sf_dir)}
    for name, fast in (
        ("dedup_ngram_jaccard_pairs", _ngram_fast_sql()),
        ("fuzzy_deletion_pairs", FUZZY_FAST),
    ):
        t0 = time.time()
        a = duck_run(cat[name].oracle, sf_dir)
        t_brute = time.time() - t0
        t0 = time.time()
        b = duck_run(fast, sf_dir)
        t_fast = time.time() - t0
        match = _canon(a) == _canon(b) and sorted(a.columns) == sorted(b.columns)
        out[name] = {
            "rows_brute": len(a), "rows_fast": len(b), "equal": bool(match),
            "sec_brute": round(t_brute, 2), "sec_fast": round(t_fast, 2),
        }
        print(f"{name}: {'EQUAL' if match else 'DIFF'} "
              f"({len(a)} rows; brute {t_brute:.1f}s fast {t_fast:.1f}s)",
              flush=True)
    return out


def run(sf_dir: str, master: str) -> dict:
    """Spark catalog query vs the accelerated oracle at ``sf_dir``."""
    from pyspark.sql import SparkSession

    # session stays semantically vanilla (no engine conf that could
    # mask an invariance bug) but the heap must fit the 100x inputs —
    # the default 1g driver JVM OOMs on the sf1 shuffles
    spark = (
        SparkSession.builder.master(master)
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .getOrCreate()
    )
    from end_end_data_pipeline__spark.plans.catalog import load_all
    from tests.oracle import compare_structured, duck_run

    cat = load_all()
    out: dict = {"mode": "run", "sf_dir": sf_dir, "master": master,
                 "preconditions": _preconditions(sf_dir)}
    for name, fast in (
        ("dedup_ngram_jaccard_pairs", _ngram_fast_sql()),
        ("fuzzy_deletion_pairs", FUZZY_FAST),
    ):
        t0 = time.time()
        sdf = cat[name].fn(spark, sf_dir)
        t0s = time.time()
        duck = duck_run(fast, sf_dir)
        t_duck = time.time() - t0s
        # structured facets from tests.oracle.compare_structured — ONE
        # shared definition of the oracle match (ADVICE r09: no
        # substring-matching of human-readable messages, and no second
        # implementation that could drift from the driver gate's)
        t0s = time.time()
        got = sdf.toPandas()
        t_spark = time.time() - t0s
        t0s = time.time()
        facets = compare_structured(got, duck)
        t_cmp = time.time() - t0s
        out[name] = {
            "rows_match": facets["rows_match"],
            "schema_match": facets["schema_match"],
            "hash_match": facets["hash_match"],
            "err": facets["err"],
            "rows_oracle": len(duck),
            "sec_total": round(time.time() - t0, 2),
            "sec_oracle": round(t_duck, 2),
            "sec_spark": round(t_spark, 2),
            "sec_compare": round(t_cmp, 2),
        }
        print(f"{name}: {'MATCH' if facets['hash_match'] else facets['err']} "
              f"({len(duck)} rows, {out[name]['sec_total']}s)", flush=True)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--equiv", metavar="SF_DIR",
                    help="DuckDB-vs-DuckDB: rewrite == brute oracle here")
    ap.add_argument("--run", metavar="SF_DIR",
                    help="Spark vs accelerated oracle at this fixture dir")
    ap.add_argument("--master", default="local[16]")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    if not args.equiv and not args.run:
        ap.error("pick --equiv or --run")
    report = equiv(args.equiv) if args.equiv else run(args.run, args.master)
    ok = all(
        v.get("equal", v.get("hash_match", True))
        for v in report.values() if isinstance(v, dict) and
        ("equal" in v or "hash_match" in v)
    )
    report["all_pass"] = bool(ok)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
        print(f"wrote {args.out}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
