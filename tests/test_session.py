"""session.session_parallelism + lake.stream_events reader options
(the r10 plan-portability and multi-batch-replay plumbing)."""

from __future__ import annotations

import os
import re

from pyspark.sql import functions as F

from end_end_data_pipeline__spark.session import (
    codegen_compiles, session_parallelism)
from end_end_data_pipeline__spark.sources import lake
from tests.conftest import SF_SMOKE


def test_session_parallelism_reads_shuffle_conf(spark):
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "13")
        assert session_parallelism(spark) == 13
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_session_parallelism_falls_back_on_non_numeric():
    """Vanilla Spark validates the conf as a positive int, so the
    non-numeric branch only arises on managed deployments that pin
    'auto' (the conf arrives through their own session builder) —
    exercise it with a stub."""

    class _Conf:
        def get(self, key):
            return "auto"

    class _SC:
        defaultParallelism = 7

    class _Spark:
        conf = _Conf()
        sparkContext = _SC()

    assert session_parallelism(_Spark()) == 7


def test_changelog_checkpointing_is_the_session_default(spark):
    """`get_spark` must pin RocksDB changelog checkpointing ON: the
    full-snapshot default costs intermittent 2-3x commit fsync storms
    on every-key-rewrite state machines (SESSIONIZE_PROFILE_r11.json).
    Asserted on the session conf so a builder refactor can't silently
    drop it back to full snapshots."""
    assert spark.conf.get(
        "spark.sql.streaming.stateStore.rocksdb."
        "changelogCheckpointing.enabled"
    ) == "true"


def test_codegen_cache_outlives_more_than_100_classes(spark):
    """A generated class compiles once per JVM, not once per visit:
    after 120 other classes (Spark's default cache holds 100) the first
    query runs again without a compile."""

    def run(i):
        spark.range(8).selectExpr(f"id * {i} + {i} AS x").write.format(
            "noop").mode("overwrite").save()

    run(1)
    before = codegen_compiles(spark)[0]
    for i in range(2, 62):  # 2 classes each
        run(i)
    after = codegen_compiles(spark)[0]
    assert after - before > 100
    run(1)
    assert codegen_compiles(spark)[0] == after


def test_phash_repartition_width_is_conf_driven(spark):
    """The phash queries' explicit repartition must follow the pinned
    SQL conf (portable across hosts), not the machine's core count
    (ADVICE r09)."""
    from end_end_data_pipeline__spark.plans.catalog import load_all

    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        df = load_all()["multimodal_phash_neardup"].fn(spark, SF_SMOKE)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "RoundRobinPartitioning" not in plan  # keyed repartition
        assert "hashpartitioning(doc_id#" in plan.replace("\n", " ") or (
            "hashpartitioning" in plan
        )
        # the explicit width appears ON the repartition node itself
        # (ADVICE r10: a bare ", 5" substring could match an unrelated
        # expression-id list elsewhere in the plan string)
        logical = df._jdf.queryExecution().optimizedPlan().toString()
        assert re.search(r"RepartitionByExpression \[[^\]]*\], 5\b", logical), logical
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_stream_events_reader_options_force_multi_batch(spark, tmp_path):
    """maxFilesPerTrigger passes through to the streaming READER: a
    4-part directory-shaped events table replayed at 2 files/trigger
    must commit 2 micro-batches, not 1."""
    src = lake.load_table(spark, "events", SF_SMOKE)
    path = str(tmp_path / "events.parquet")
    src.repartition(4).write.parquet(path)
    stream = lake.stream_events(
        spark, str(tmp_path), reader_options={"maxFilesPerTrigger": "2"}
    )
    name = "reader_opts_sink"
    q = (
        stream.groupBy().agg(F.count("*").alias("n"))
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    data_batches = [
        p for p in q.recentProgress if p.get("numInputRows", 0) > 0
    ]
    assert len(data_batches) == 2, [
        (p.get("batchId"), p.get("numInputRows")) for p in q.recentProgress
    ]
    n = spark.table(name).collect()[0]["n"]
    assert n == src.count()
    spark.catalog.dropTempView(name)
