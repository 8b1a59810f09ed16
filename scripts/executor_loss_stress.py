#!/usr/bin/env python3
"""Executor-LOSS determinism stress (round 8): SIGKILL a live executor
JVM mid-job under a multi-JVM master and verify the engine NEVER
returns a silently different result — every trial must end in one of
exactly two states:

* ``identical`` — Spark recovered (lineage / shuffle-stage retry on a
  relaunched executor) and the result hash equals the clean run's;
* ``failed_loudly`` — the job raised (the documented outcome when an
  executor death takes non-reliable ``localCheckpoint`` blocks with
  it — ``operators/scale.py`` ``_range_parted_with_offsets`` truncates
  lineage on purpose and Spark cannot recompute lost blocks, see the
  r07-advice trade note in ``grouped_global_rank``).

A trial whose kill came only after the job had returned reads
``kill_after_job`` (``no_kill`` if no executor was found to kill); its
hash is still checked, but it shows no recovery, so it never counts as
one.

Any other state — a job that SUCCEEDS with a different hash — is
corruption and fails this script.  This is the failure mode that
matters at 1000 executors, where executor churn is routine: wrong
answers are unacceptable; loud retry-or-fail is the contract.

Five subjects, taken in turn:

* ``lineage`` — a pure-DataFrame catalog-shaped aggregation (no
  checkpoint): Spark must ALWAYS recover this one (shuffle files died
  with the executor → stage retry recomputes), so its expected outcome
  is ``identical`` in every trial.
* ``merge_on_read`` — a manifest-table CDC run into a fresh table: a
  20k-row seed commit, four delta commits and the fold, then the
  snapshot.  Every commit is a Spark write with no checkpoint, so
  either outcome is allowed: a task retry recovers it, and a commit
  whose job fails leaves the table at its previous version.
* ``checkpointed`` — ``ordered_prefix_sums`` over the same rows (pins
  partition contents via eager localCheckpoint): expected outcome is
  ``identical`` when the killed executor held no still-needed blocks,
  ``failed_loudly`` when it did.
* ``lazy_ckpt_dedup`` / ``ngram_jaccard_pairs`` — the MinHash LSH and
  exact n-gram dedup operators over sf0.1 ``documents``; each holds a
  lazy ``localCheckpoint`` of its shingle sets, so either outcome is
  allowed.

Usage:  python scripts/executor_loss_stress.py [n_trials] [out.json]

Prints one JSON line:
{"clean": {...}, "trials": [...], "corrupt": 0, "ok": true}
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time
import uuid
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = "/root/testdata/sf0.1"
MASTER = "local-cluster[2,4,3072]"
# argv parsing only when run as a script: sibling harnesses
# (stream_executor_loss, stream_soak) import executor_pids from this
# module under their OWN argv conventions
if __name__ == "__main__":
    N_TRIALS = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    OUT = sys.argv[2] if len(sys.argv) > 2 else None


def executor_pids(driver_pid: int, app_id: str) -> list[int]:
    """Executor JVMs of THIS app only: CoarseGrainedExecutorBackend
    processes whose cmdline carries this driver's ``--app-id`` (the
    backend is launched with it), so a concurrently-running Spark app
    on the same host can never be hit by the SIGKILL (ADVICE r08)."""
    out = subprocess.run(
        ["pgrep", "-f", f"CoarseGrainedExecutorBackend.*{app_id}"],
        capture_output=True, text=True,
    ).stdout.split()
    return [int(p) for p in out if int(p) != driver_pid]


def df_hash(df) -> str:
    rows = sorted(repr(tuple(r)) for r in df.collect())
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def subjects(spark, work: str):
    """(name -> thunk returning a DataFrame) — built fresh per trial so
    no cached partitions survive from the previous one; tables the
    thunks write go under ``work``."""
    from pyspark.sql import functions as F

    from end_end_data_pipeline__spark.operators import dedup
    from end_end_data_pipeline__spark.operators.scale import (
        ordered_prefix_sums,
    )
    from end_end_data_pipeline__spark.sources import lake
    from end_end_data_pipeline__spark.sources import manifest_table as mt

    def lineage():
        li = lake.load_table(spark, "lineitem", SF_DIR)
        return (
            li.groupBy("l_suppkey")
            .agg(
                F.sum((F.col("l_extendedprice") * 100).cast("long")).alias(
                    "cents"
                ),
                F.count(F.lit(1)).alias("n"),
            )
        )

    def checkpointed():
        li = lake.load_table(spark, "lineitem", SF_DIR).select(
            (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("k"),
            F.col("l_quantity").cast("long").alias("q"),
        )
        cum = ordered_prefix_sums(li, ["k"], ["q"], n_parts=16)
        return cum.groupBy((F.col("k") % 97).alias("g")).agg(
            F.sum("__cum_q").alias("s"), F.count(F.lit(1)).alias("n")
        )

    def merge_on_read():
        target = os.path.join(work, uuid.uuid4().hex)

        def batch(ids, ts, op):
            amount = (F.col("id") * ts % 1000).cast("double").alias("amount")
            return ids.select(
                "id", F.lit(op).alias("op"), F.lit(ts).cast("long").alias("ts_ms"),
                F.when(F.lit(op != "d"), F.struct("id", amount)).alias("after"),
            )

        mt.merge_versioned(batch(spark.range(20_000), 1, "c"), target, ["id"],
                           n_buckets=64)
        for ts in range(2, 7):  # four delta commits, then the fold
            ids = spark.range(ts, 20_000 + 50 * ts, 53)
            mt.merge_versioned(batch(ids, ts, "d" if ts % 3 == 0 else "u"), target, ["id"])
        return mt.read_snapshot(spark, target)

    # the dedup operators hold LAZY executor-local localCheckpoints of
    # their shingle sets — exercise them end-to-end under executor loss.
    # Expected outcomes: identical (blocks survived / recomputed before
    # materialization) or failed_loudly (lost materialized blocks cannot
    # recompute) — never a silent wrong answer.
    def lazy_ckpt_dedup():
        docs = lake.load_table(spark, "documents", SF_DIR)
        return dedup.minhash_lsh_pairs(
            docs, "text", "doc_id", n=3, num_hashes=32, bands=8,
            verify_threshold=0.5, hash_family="xxhash64",
        )

    def ngram_jaccard_pairs():
        docs = lake.load_table(spark, "documents", SF_DIR)
        return dedup.ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.5)

    return {
        "lineage": lineage,
        "merge_on_read": merge_on_read,
        "checkpointed": checkpointed,
        "lazy_ckpt_dedup": lazy_ckpt_dedup,
        "ngram_jaccard_pairs": ngram_jaccard_pairs,
    }


def main() -> int:
    from pyspark.sql import SparkSession

    repo = str(Path(__file__).resolve().parent.parent)
    spark = (
        SparkSession.builder.master(MASTER)
        .config("spark.executorEnv.PYTHONPATH", repo)
        .config("spark.sql.shuffle.partitions", "16")
        # default maxFailures=4: the kill costs one attempt per task it
        # takes down; recovery must fit in the remaining three
        .getOrCreate()
    )
    me = os.getpid()
    app_id = spark.sparkContext.applicationId
    work = tempfile.mkdtemp(prefix="executor-loss-")
    subs = subjects(spark, work)

    # each subject's clean run is timed WARM (its second run), as the
    # trials run: a cold first run is slower and would aim kills past
    # the end of the job
    clean, clean_s = {}, {}
    for name, mk in subs.items():
        df_hash(mk())
        t0 = time.time()
        clean[name] = df_hash(mk())
        clean_s[name] = time.time() - t0
    print(f"clean hashes: {clean}  clean_s: {clean_s}", flush=True)

    trials = []
    corrupt = 0
    names = list(subs)
    per_subject = -(-N_TRIALS // len(names))
    for t in range(N_TRIALS):
        name = names[t % len(names)]
        # stagger each subject's kills evenly through ITS clean-run time
        # (10 trials: at 1/4 and 3/4), so the late kill of a dedup subject
        # lands after its lazy localCheckpoint has materialized
        frac = (t // len(names) + 0.5) / per_subject
        delay = frac * clean_s[name]
        killed: dict = {}

        def killer():
            time.sleep(delay)
            pids = executor_pids(me, app_id)
            if pids:
                victim = pids[t % len(pids)]
                try:
                    os.kill(victim, signal.SIGKILL)
                    killed["pid"] = victim
                    killed["at"] = time.time()
                except ProcessLookupError:
                    killed["pid"] = None

        th = threading.Thread(target=killer)
        th.start()
        outcome: dict = {"subject": name, "kill_delay_s": round(delay, 1),
                         "kill_frac": round(frac, 2)}
        t0 = time.time()
        try:
            h = df_hash(subs[name]())
            if h == clean[name]:
                outcome["outcome"] = "identical"
            else:
                outcome["outcome"] = "CORRUPT"
                outcome["hash"] = h
                corrupt += 1
        except Exception as exc:  # noqa: BLE001 — loud failure is a PASS
            outcome["outcome"] = "failed_loudly"
            outcome["err"] = f"{type(exc).__name__}: {exc}"[:200]
        done = time.time()
        th.join()
        mid_job = killed.get("at", done) < done
        if outcome["outcome"] == "identical" and not mid_job:
            outcome["outcome"] = "kill_after_job" if "at" in killed else "no_kill"
        outcome["killed_pid"] = killed.get("pid")
        outcome["sec"] = round(done - t0, 2)
        trials.append(outcome)
        print(f"[{t + 1}/{N_TRIALS}] {outcome}", flush=True)
        # give the worker a moment to relaunch the executor
        time.sleep(3)

    # the lineage subject must additionally have RECOVERED at least once
    # from a kill that landed mid-job (a suite where every trial failed
    # loudly, or was killed only after it returned, would prove nothing
    # about recompute correctness)
    recovered = sum(
        1 for x in trials
        if x["subject"] == "lineage" and x["outcome"] == "identical"
    )
    ok = corrupt == 0 and recovered > 0
    result = {
        "master": MASTER, "sf": SF_DIR, "clean": clean,
        "clean_s": {k: round(v, 2) for k, v in clean_s.items()}, "trials": trials,
        "corrupt": corrupt, "lineage_recoveries": recovered, "ok": ok,
    }
    print(json.dumps(result))
    if OUT:
        Path(OUT).write_text(json.dumps(result, indent=2))
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
