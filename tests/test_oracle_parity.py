"""Every catalog query with an oracle must match DuckDB exactly —
the local replica of the driver's correctness gate.

Runs at sf0.001; each query runs once, in the shared ``catalog_pass``
(tests/conftest.py).  ``scripts/driver_gate.py --all`` sweeps sf0.01.
"""

from __future__ import annotations

import os

import pytest

from end_end_data_pipeline__spark.plans.catalog import load_all
from tests.conftest import SF_SMOKE
from tests.oracle import duck_run

QUERIES = load_all()


@pytest.mark.parametrize("name", list(QUERIES))
def test_oracle_parity(catalog_pass, name):
    run = catalog_pass[name]
    run.check_ran(name)
    assert not run.problems, f"{name}: {run.problems}"


def test_register_requires_an_oracle():
    """A query with no oracle is refused when it registers, so every
    catalog query is checked against DuckDB."""
    from end_end_data_pipeline__spark.plans.catalog import register

    with pytest.raises(ValueError, match="oracle"):
        register("x")
    with pytest.raises(ValueError, match="oracle"):
        register("x", oracle="")


def test_sf1_gate_rewrites_equal_brute_oracles():
    """The accelerated DuckDB oracle rewrites that the 100x-scale dedup
    gate runs (scripts/sf1_dedup_gate.py) must stay EXACTLY equivalent
    to the brute-force catalog oracles — DuckDB vs DuckDB at sf0.001,
    so any drift in either side's SQL (or in the shared shingle CTE)
    fails CI instead of silently weakening the sf1 evidence chain."""
    import sys

    from tests.oracle import _canon

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "scripts"))
    import sf1_dedup_gate as g

    pre = g._preconditions(SF_SMOKE)
    assert pre["c_name_len_violations"] == 0
    for name, fast in (
        ("dedup_ngram_jaccard_pairs", g._ngram_fast_sql()),
        ("fuzzy_deletion_pairs", g.FUZZY_FAST),
    ):
        a = duck_run(QUERIES[name].oracle, SF_SMOKE)
        b = duck_run(fast, SF_SMOKE)
        assert sorted(a.columns) == sorted(b.columns), name
        assert _canon(a) == _canon(b), f"{name}: rewrite drifted from brute oracle"
