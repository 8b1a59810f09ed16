"""The committed sf0.01 gate artifact must cover the LIVE catalog.

Round-6 lesson (VERDICT r06, "What's missing" #2): a query added in an
end-of-round snapshot commit (``multimodal_video_shot_boundaries``)
landed AFTER the last ``scripts/driver_gate.py --all`` refresh, so the
round shipped a "full catalog sweeps clean" artifact that was stale by
one query.  This test makes that impossible to repeat silently: the
NEWEST ``GATE_r*.json`` at the repo root must have exactly one entry
per ``load_all()`` query, every entry green, and zero stale keys.
Adding a query without re-running

    python scripts/driver_gate.py --all --out GATE_r<N>.json

now fails CI instead of shipping a stale artifact (same spirit as
``tests/test_plan_lock.py::test_lock_covers_catalog``).
"""

from __future__ import annotations

import glob
import json
import os
import re

from end_end_data_pipeline__spark.plans.catalog import load_all

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _newest_gate() -> tuple[str, dict]:
    paths = glob.glob(os.path.join(REPO, "GATE_r*.json"))
    assert paths, "no GATE_r*.json artifact at repo root"
    def round_no(p: str) -> int:
        m = re.search(r"GATE_r(\d+)\.json$", p)
        return int(m.group(1)) if m else -1
    newest = max(paths, key=round_no)
    with open(newest) as fh:
        return newest, json.load(fh)


def test_gate_covers_catalog():
    newest, gate = _newest_gate()
    names = set(load_all())
    missing = sorted(names - set(gate))
    stale = sorted(set(gate) - names)
    assert not missing and not stale, (
        f"{os.path.basename(newest)} out of date "
        f"(missing={missing}, stale={stale}) — run: "
        "python scripts/driver_gate.py --all --out "
        f"{os.path.basename(newest)}"
    )


def test_gate_all_green():
    newest, gate = _newest_gate()
    # every catalog query has an oracle, so every row must carry a
    # VERIFIED hash — hash_match=None would mean the hash was never
    # computed, not that it verified
    def green(row: dict) -> bool:
        return bool(
            row.get("rows_match") and row.get("schema_match")
            and row.get("err") is None and row.get("hash_match") is True
        )

    red = sorted(name for name, row in gate.items() if not green(row))
    assert not red, f"{os.path.basename(newest)} has red rows: {red}"
