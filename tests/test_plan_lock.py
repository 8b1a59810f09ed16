"""Plan-regression lock: every catalog query's physical-plan digest
(shuffle exchanges, join strategies, generators, top-k operators) must
match the committed PLANS_LOCK.json — so an accidental plan change (a
broadcast silently flipping to a sort-merge join, a new shuffle from a
refactor) fails CI instead of shipping as a 100 TB regression.

The digests come from the shared ``catalog_pass`` (tests/conftest.py),
which builds each query once with ``plan_lock.plan_entry`` /
``plan_lock.runtime_digests`` — the functions the regenerator uses.
Intentional plan changes and new queries are a one-command refresh:

    python scripts/plan_lock.py
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from scripts.plan_lock import LOCK_PATH, SKIP, fixture_fingerprint
from end_end_data_pipeline__spark.plans.catalog import load_all

LOCK = json.loads(Path(LOCK_PATH).read_text())
NAMES = [n for n in load_all() if n not in SKIP]

# The driver regenerates fixtures between rounds; regenerated files can
# legitimately shift size-based planning (r04 precedent).  The lock is
# only meaningful against the fixture generation it was taken from.
if fixture_fingerprint() != LOCK.get("__fixtures__"):
    pytest.skip(
        "fixtures regenerated since PLANS_LOCK.json was taken — refresh "
        "with: python scripts/plan_lock.py",
        allow_module_level=True,
    )


def test_lock_covers_catalog():
    """Every dry-plannable query has a locked digest and vice versa —
    a new query without a lock entry (or a renamed one leaving a stale
    entry) fails here with the regeneration command in the message."""
    missing = sorted(set(NAMES) - set(LOCK))
    stale = sorted(
        set(LOCK) - set(NAMES) - {"__fixtures__", "__runtime__"}
    )
    rt_missing = sorted(set(SKIP) - set(LOCK.get("__runtime__", {})))
    assert not rt_missing, (
        f"runtime lock out of date (missing={rt_missing}) — "
        "run: python scripts/plan_lock.py"
    )
    assert not missing and not stale, (
        f"plan lock out of date (missing={missing}, stale={stale}) — "
        "run: python scripts/plan_lock.py"
    )


@pytest.mark.parametrize("name", NAMES)
def test_plan_matches_lock(catalog_pass, name):
    run = catalog_pass[name]
    run.check_built(name)
    got = run.lock
    assert got == LOCK.get(name), (
        f"{name}: plan digest drifted from PLANS_LOCK.json "
        f"(got {got}, locked {LOCK.get(name)}) — if intentional, "
        "run: python scripts/plan_lock.py"
    )


@pytest.mark.parametrize("name", sorted(SKIP))
def test_runtime_plan_matches_lock(catalog_pass, name):
    """r08 (VERDICT r07 task 6): the streaming / side-effecting
    queries the dry lock skips are pinned at RUN time — each started
    stream's final micro-batch plan (IncrementalExecution: watermark,
    StateStore, stream-join operators) plus the returned DataFrame's
    executed plan must match the lock's __runtime__ section."""
    run = catalog_pass[name]
    run.check_built(name)
    got = run.lock
    locked = dict(LOCK["__runtime__"][name])
    locked.pop("reason", None)
    assert got == locked, (
        f"{name}: runtime plan digest drifted (got {got}, locked "
        f"{locked}) — if intentional, run: python scripts/plan_lock.py"
    )
