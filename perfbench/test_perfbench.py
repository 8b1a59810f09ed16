"""The benchmark's own tests.  From the root of a checkout:

    python3 -m pytest perfbench/test_perfbench.py -q

The last tests run the benchmark command itself (a few minutes).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402
import oracles  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def _digest(d: str) -> dict[str, str]:
    out = {}
    for dp, _, fs in os.walk(d):
        for f in fs:
            p = os.path.join(dp, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = hashlib.sha256(fh.read()).hexdigest()
    return out


GENERATORS = {
    "star": lambda d, s: gen.write_star(d, s, 0.002),
    "banking": lambda d, s: gen.write_banking(d, s, 200, 3),
    "cdc": lambda d, s: gen.write_cdc(d, s, 500, 2, 50),
}


@pytest.mark.parametrize("name", sorted(GENERATORS))
def test_inputs_follow_the_seed(tmp_path, name):
    make = GENERATORS[name]
    for sub, seed in (("a", 1), ("b", 1), ("c", 2)):
        make(str(tmp_path / sub), seed)
    a, b, c = (_digest(str(tmp_path / s)) for s in "abc")
    assert a and a == b
    assert a.keys() == c.keys() and a != c


def test_lake_verifier_flags_a_corrupted_result(tmp_path):
    wl = workloads.LakeAnalytics(None, str(tmp_path), 3)
    wl.setup(0)
    silver = oracles.silver_connection(wl.silver)
    good = {
        "mart_customer_value": silver.execute(
            oracles.MART_SQL["mart_customer_value"]).fetchdf(),
        "dedup_ngram_jaccard_pairs": oracles.pairs_frame(
            os.path.join(wl.sf_dir, "documents.parquet")),
    }
    wl.results = {k: v.copy() for k, v in good.items()}
    assert wl.verify([]) == {}

    bad = {k: v.copy() for k, v in good.items()}
    bad["mart_customer_value"].loc[0, "n_txns"] += 1
    bad["dedup_ngram_jaccard_pairs"] = bad["dedup_ngram_jaccard_pairs"].iloc[1:]
    wl.results = bad
    assert sorted(wl.verify([])) == sorted(good)


def test_cdc_model_flags_a_corrupted_read(tmp_path):
    log = gen.write_cdc(str(tmp_path), 5, 500, 2, 50)
    model = oracles.cdc_versions(log)
    assert sorted(model) == [1, 2, 3]
    keys = sorted(model[3])[-5:] + [10**9]
    right = oracles.txn_frame(model[3][k] for k in keys if k in model[3])
    assert workloads.check_read(model, "read_keys", 3, keys, right) is None

    wrong = right.copy()
    wrong.loc[0, "status"] = "CORRUPT"
    assert workloads.check_read(model, "read_keys", 3, keys, wrong)
    assert workloads.check_read(model, "read_keys", 3, keys, right.iloc[1:])
    # an older version is a different answer
    lo, hi = gen.CDC_T0, gen.CDC_T0 + dt.timedelta(days=1)
    newest = oracles.txn_frame(oracles.where_model(model[3], lo, hi, "PENDING"))
    older = oracles.txn_frame(oracles.where_model(model[1], lo, hi, "PENDING"))
    if not newest.equals(older):
        assert workloads.check_read(model, "read_where", 1, (lo, hi, "PENDING"), newest)


def test_exact_pairs_match_brute_force():
    sets = oracles.shingle_sets(gen.corpus_texts(3, 150))
    brute = {}
    for i in range(len(sets)):
        for k in range(i + 1, len(sets)):
            inter = len(sets[i] & sets[k])
            union = len(sets[i]) + len(sets[k]) - inter
            if union and inter / union >= 0.5:
                brute[(i, k)] = inter / union
    assert oracles.exact_pairs(sets) == brute


def test_a_wrong_result_fails_every_run_of_its_op():
    ops = [workloads.Op("query", "a", 1.0), workloads.Op("query", "b", 1.0),
           workloads.Op("query", "a", 1.0), workloads.Op("query", "c", 1.0, ok=False)]
    assert [o.name for o in run.failed(ops, {"a": "values differ"})] == ["a", "a", "c"]


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_spec_names_the_workloads():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert "setup_s" in names


@pytest.mark.parametrize("trace", [0, 1])
def test_printed_metrics_match_the_spec(trace):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "cdc_ingest",
         "--seed", "1", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    spec = _spec()["per_layer" if trace else "end_to_end"]
    assert list(res["metrics"]) == [m["name"] for m in spec]
    for m in spec:
        assert res["metrics"][m["name"]]["unit"] == m["unit"]


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "cdc_ingest",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout
