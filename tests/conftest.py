from __future__ import annotations

import traceback
from dataclasses import dataclass, field

import pytest

from end_end_data_pipeline__spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests", extra_conf={"spark.sql.shuffle.partitions": "8"})
    yield spark
    spark.stop()


@dataclass
class CatalogRun:
    """What the shared catalog pass saw for one query."""

    plan: str | None = None  # dry executed-plan string (not for SKIP queries)
    lock: dict | None = None  # PLANS_LOCK.json entry, or runtime digests
    problems: list[str] = field(default_factory=list)  # oracle mismatches
    build_error: str | None = None  # traceback from building / digesting
    run_error: str | None = None  # traceback from executing

    def check_built(self, name: str) -> None:
        if self.build_error:
            pytest.fail(f"{name} failed to build:\n{self.build_error}",
                        pytrace=False)

    def check_ran(self, name: str) -> None:
        self.check_built(name)
        if self.run_error:
            pytest.fail(f"{name} failed to run:\n{self.run_error}",
                        pytrace=False)


@pytest.fixture(scope="session")
def catalog_pass(spark) -> dict[str, CatalogRun]:
    """Visit every catalog query ONCE at SF_SMOKE, for the plan audits
    (test_plans), the plan lock (test_plan_lock) and oracle parity
    (test_oracle_parity).  A dry-plannable query is built under the
    checkpoint-child capture, its plan string and lock entry kept, then
    the same DataFrame runs against its DuckDB oracle.  A runtime-locked
    query (``plan_lock.SKIP``) takes its micro-batch and result digests
    from one ``runtime_digests`` call, whose DataFrame then runs the
    same way."""
    from end_end_data_pipeline__spark.plans.catalog import load_all
    from scripts.plan_lock import SKIP, plan_entry, runtime_digests
    from tests.oracle import compare, duck_run

    out: dict[str, CatalogRun] = {}
    for name, q in load_all().items():
        run = out[name] = CatalogRun()
        # other modules cache fixture tables and Spark substitutes an
        # InMemoryRelation into any matching plan, which would change
        # scan digests: the lock is defined over UNCACHED plans
        spark.catalog.clearCache()
        try:
            if name in SKIP:
                run.lock, df = runtime_digests(spark, name)
            else:
                run.lock, run.plan, df = plan_entry(q.fn, spark, SF_SMOKE)
        except Exception:
            run.build_error = traceback.format_exc()
            continue
        try:
            run.problems = compare(df, duck_run(q.oracle, SF_SMOKE))
        except Exception:
            run.run_error = traceback.format_exc()
        del df
    return out
