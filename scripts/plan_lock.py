#!/usr/bin/env python3
"""Generate (or refresh) PLANS_LOCK.json: a physical-plan digest for
EVERY dry-plannable catalog query at sf0.001 — the regression lock
``tests/test_plan_lock.py`` compares against.

    python scripts/plan_lock.py            # rewrite the lock at HEAD

The digest counts plan features that should only change when someone
MEANS to change them: shuffle exchanges, join strategies, generators,
and top-k operators.  Fixture stats are pinned (read-only testdata)
and the digest is taken from the pre-execution plan, so it is stable
run-to-run on the pinned Spark version; any intentional plan change
(or a new query) is a one-command regeneration away.
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import DataFrame  # noqa: E402

LOCK_PATH = Path(__file__).resolve().parent.parent / "PLANS_LOCK.json"
SF_DIR = "/root/testdata/sf0.001"

# Queries whose INTERESTING plan only exists at run time — excluded
# from the dry-plan lock, but covered since r08 (VERDICT r07 task 6)
# by the ``__runtime__`` lock section below: the query fn is EXECUTED,
# every StreamingQuery it starts is captured via a DataStreamWriter.
# start patch, and the digest is taken from each stream's
# ``lastExecution`` (the final micro-batch's IncrementalExecution)
# plus the returned read-back DataFrame's executed plan.  The value
# maps name → why the dry digest alone would be misleading.
SKIP = {
    "stream_daily_event_agg":
        "micro-batch agg plan lives in IncrementalExecution",
    "stream_cdc_upsert_pipeline":
        "plan is per-micro-batch merge inside foreachBatch",
    "stream_static_enrichment":
        "stream-static join planned per micro-batch",
    "stream_watermark_late_drop":
        "watermark/StateStore ops only appear in micro-batch plans",
    "stream_stateful_user_stats":
        "applyInPandasWithState plan is micro-batch-only",
    "gold_marts_build":
        "returned DF reads gold parquet back; DAG runs at call time",
    "maintenance_truncate_reset":
        "side-effecting truncate; returned DF is the audit read-back",
    # banking_generator_fanout joined the lock in r06: since its
    # oracle-ization it is a pure synthesis + checksum-summary query
    # (no side effects), so its plan digest is stable and lockable.
}


def digest(plan: str) -> dict[str, int]:
    plan = plan.split("== Initial Plan ==")[0]
    return {
        "shuffles": len(
            re.findall(
                r"Exchange (?:hashpartitioning|rangepartitioning|SinglePartition)",
                plan,
            )
        ),
        "broadcast_hash_join": plan.count("BroadcastHashJoin"),
        "sort_merge_join": plan.count("SortMergeJoin"),
        "shuffled_hash_join": plan.count("ShuffledHashJoin"),
        "broadcast_nested_loop_join": plan.count("BroadcastNestedLoopJoin"),
        "take_ordered": plan.count("TakeOrderedAndProject"),
        "generate": plan.count("Generate"),
        "file_scans": len(re.findall(r"FileScan \w+", plan)),
    }


def capture_checkpoint_children():
    """Context manager recording the PRE-checkpoint executed-plan digest
    of every ``DataFrame.localCheckpoint()`` call made while active.

    ADVICE r12: a (lazy) localCheckpoint plans downstream as an opaque
    ``Scan ExistingRDD`` — file_scans drop to 0 in the consumer digest
    and scan-count / join-shape regressions hidden *inside* the barrier
    became invisible to the lock.  Fingerprinting the checkpointed
    child plans restores that guard.

    The patch is process-global, so the capture is for single-threaded
    tooling: entering it while it is already active raises
    ``RuntimeError`` instead of stacking a second patch."""
    from contextlib import contextmanager

    # Spark 4: concrete sessions build pyspark.sql.classic.dataframe.
    # DataFrame, which OVERRIDES the abstract base's method — patching
    # the base class would never be reached.
    try:
        import pyspark.sql.classic.dataframe as pdf
    except ImportError:  # pre-4.0 layout
        import pyspark.sql.dataframe as pdf

    @contextmanager
    def _cm():
        children: list[dict[str, int]] = []
        orig = pdf.DataFrame.localCheckpoint
        if getattr(orig, "_captures_checkpoint_children", False):
            raise RuntimeError(
                "capture_checkpoint_children() is already active; "
                "nested or concurrent captures are not supported"
            )

        def patched(self, *a, **k):
            children.append(
                digest(self._jdf.queryExecution().executedPlan().toString())
            )
            return orig(self, *a, **k)

        patched._captures_checkpoint_children = True
        pdf.DataFrame.localCheckpoint = patched
        try:
            yield children
        finally:
            pdf.DataFrame.localCheckpoint = orig

    return _cm()


def plan_entry(fn, spark, sf_dir: str) -> tuple[dict, str, DataFrame]:
    """Lock entry for one query: the result plan digest plus (when the
    query materializes intermediates) the pre-checkpoint child plan
    digests, in call order.  Also returns the executed-plan string the
    digest was taken from and the (unexecuted) DataFrame."""
    with capture_checkpoint_children() as kids:
        df = fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    entry: dict = digest(plan)
    if kids:
        entry["ckpt_children"] = kids
    return entry, plan, df


def fixture_fingerprint() -> dict[str, int]:
    """Byte sizes of the sf0.001 fixture files.  The driver REGENERATES
    fixtures between rounds (r04 precedent: the events timestamp unit
    changed and broke 16 queries on byte-identical code); regenerated
    files change sizes, size-based join planning can flip, and the
    lock would then fail en masse through no code fault — so the test
    SKIPS (with a refresh instruction) when this fingerprint drifts
    instead of failing."""
    return {
        p.name: p.stat().st_size
        for p in sorted(Path(SF_DIR).glob("*.parquet"))
    }


def collect() -> dict[str, dict[str, int]]:
    from end_end_data_pipeline__spark.plans.catalog import load_all
    from end_end_data_pipeline__spark.session import get_spark

    spark = get_spark(
        "plan_lock", extra_conf={"spark.sql.shuffle.partitions": "8"}
    )
    out: dict[str, dict[str, int]] = {}
    for name, q in load_all().items():
        if name in SKIP:
            continue
        out[name] = plan_entry(q.fn, spark, SF_DIR)[0]
    return out


def runtime_digests(spark, name: str) -> tuple[dict, DataFrame]:
    """Execute one SKIP-listed query and digest what the dry lock
    can't see: every started stream's final micro-batch plan
    (``StreamExecution.lastExecution`` — the IncrementalExecution
    holding watermark/StateStore/stream-join operators) and the
    returned DataFrame's executed plan.  Returns the digests and that
    DataFrame."""
    import pyspark.sql.streaming.readwriter as srw

    from end_end_data_pipeline__spark.plans.catalog import load_all

    captured: list = []
    orig = srw.DataStreamWriter.start

    def patched(self, *a, **k):
        sq = orig(self, *a, **k)
        captured.append(sq)
        return sq

    srw.DataStreamWriter.start = patched
    try:
        df = load_all()[name].fn(spark, SF_DIR)
    finally:
        srw.DataStreamWriter.start = orig
    micro = [
        digest(sq._jsq.streamingQuery().lastExecution().executedPlan()
               .toString())
        for sq in captured
    ]
    return {
        "result": digest(
            df._jdf.queryExecution().executedPlan().toString()),
        "microbatches": micro,
    }, df


def runtime_collect() -> dict[str, dict]:
    from end_end_data_pipeline__spark.session import get_spark

    spark = get_spark(
        "plan_lock_rt", extra_conf={"spark.sql.shuffle.partitions": "8"}
    )
    return {
        name: {"reason": reason, **runtime_digests(spark, name)[0]}
        for name, reason in sorted(SKIP.items())
    }


if __name__ == "__main__":
    lock = {
        "__fixtures__": fixture_fingerprint(),
        "__runtime__": runtime_collect(),
        **collect(),
    }
    LOCK_PATH.write_text(json.dumps(lock, indent=1, sort_keys=True) + "\n")
    print(f"wrote {LOCK_PATH} ({len(lock) - 2} dry + "
          f"{len(lock['__runtime__'])} runtime queries)")
