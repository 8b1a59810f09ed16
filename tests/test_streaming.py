"""Streaming-core tests: CDC decode/apply semantics, watermark
late-data drops (ST3), stateful operators, and the checkpointed CDC
upsert stream (ST6/ST8) end to end into its manifest-table sink.  The
sink's merge and crash semantics are tested in
tests/test_manifest_table.py."""

from __future__ import annotations

import os
import tempfile

import pytest

from pyspark.sql import functions as F

from end_end_data_pipeline__spark import schemas
from end_end_data_pipeline__spark.sources import cdc
from end_end_data_pipeline__spark.sources import manifest_table as mt
from end_end_data_pipeline__spark.streaming.upsert import (
    stream_cdc_file_source_versioned,
)


def _tx_envelope(id, amount, op, ts_ms, account_id=1):
    import json

    after = None if op == "d" else {
        "id": id, "account_id": account_id, "txn_type": "DEPOSIT",
        "amount": amount, "related_account_id": None,
        "status": "COMPLETED", "created_at": 1719792000000000,
    }
    before = None if op == "c" else {"id": id, "account_id": account_id,
                                     "txn_type": "DEPOSIT", "amount": 1.0,
                                     "related_account_id": None,
                                     "status": "COMPLETED",
                                     "created_at": 1719792000000000}
    return json.dumps({"payload": {"before": before, "after": after, "op": op,
                                   "ts_ms": ts_ms, "source": {"table": "transactions"}}})


def test_cdc_decode_and_latest_wins(spark):
    """Insert → update → duplicate update → delete: latest ts_ms wins,
    deletes remove, duplicates collapse (FIXTURES.md §C required cases)."""
    lines = [
        _tx_envelope(1, 10.0, "c", 100),
        _tx_envelope(1, 20.0, "u", 200),
        _tx_envelope(1, 20.0, "u", 200),  # at-least-once duplicate
        _tx_envelope(2, 5.0, "c", 100),
        _tx_envelope(2, None, "d", 300),
        _tx_envelope(3, 7.0, "c", 100),
    ]
    raw = spark.createDataFrame([(l,) for l in lines], ["value"])
    changes = cdc.decode(
        cdc.parse_envelope(raw, schemas.cdc_row_schema("transactions")), ["id"]
    )
    state = cdc.apply_latest_state(changes, ["id"])
    rows = {r["id"]: r for r in state.collect()}
    assert set(rows) == {1, 3}  # 2 deleted
    assert rows[1]["amount"] == 20.0  # update won
    assert rows[3]["amount"] == 7.0

    silver = cdc.silver_banking(state, "transactions")
    s1 = {r["id"]: r for r in silver.collect()}
    assert str(s1[1]["amount"]) == "20.00"  # DECIMAL(18,2) restored
    assert s1[1]["created_at"].year == 2024  # epoch-micros decoded


def test_cdc_tombstone_and_malformed_filtered(spark):
    raw = spark.createDataFrame(
        [("null",), ("{}",), ('{"payload": null}',), ("not json",),
         (_tx_envelope(9, 1.5, "c", 1),)],
        ["value"],
    )
    changes = cdc.decode(
        cdc.parse_envelope(raw, schemas.cdc_row_schema("transactions")), ["id"]
    )
    assert changes.count() == 1


def test_watermark_drops_late_rows(spark):
    """ST3: with a 10-minute watermark, a row arriving after the
    watermark has passed its window is dropped from the aggregation."""
    from datetime import datetime, timedelta

    tmp = tempfile.mkdtemp(prefix="wm_")
    src = os.path.join(tmp, "src")
    os.makedirs(src)
    base = datetime(2024, 1, 1, 10, 0, 0)
    # batch 1: on-time rows advancing the watermark to 11:50
    df1 = spark.createDataFrame(
        [(1, base), (2, base + timedelta(hours=2))], "id long, ts timestamp"
    )
    df1.coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema("id long, ts timestamp").parquet(src)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n"))
    )
    q = (
        agg.writeStream.outputMode("update").format("memory")
        .queryName("wm_sink").trigger(processingTime="500 milliseconds").start()
    )
    try:
        q.processAllAvailable()
        # batch 2: a very late row in the 10:00 window — beyond watermark
        df2 = spark.createDataFrame(
            [(3, base + timedelta(minutes=1))], "id long, ts timestamp"
        )
        df2.coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()
    out = {
        r["window"]["start"].hour: r["n"]
        for r in spark.sql("SELECT * FROM wm_sink").collect()
    }
    # the late row must NOT have bumped the 10:00 window to 2
    assert out.get(10) == 1, out


def test_sessionize_out_of_order_batches_match_batch(spark, tmp_path):
    """Out-of-order arrival across micro-batches: with allowed
    lateness, stragglers merge into the right session (even bridging
    two candidate sessions) and the emitted sessions equal the batch
    computation — the pre-round-4 ordered-arrival assumption is gone."""
    from end_end_data_pipeline__spark.streaming.stateful import sessionize

    gap = 1_800_000
    src = str(tmp_path / "src")
    # chronological events for user 1: session A = {0, 1000, 2000},
    # session B = {5_000_000}; sentinel 20_000_000 finalizes both.
    # Delivery order scrambles them across micro-batches: B first, then
    # A split so 1000 arrives AFTER 2000 and 5_000_000 (a late interior
    # event that must land inside already-buffered session A).
    batches = [
        [(1, 5_000_000)],
        [(1, 0), (1, 2000)],
        [(1, 1000)],
        [(1, 20_000_000)],
    ]
    for rows in batches:
        spark.createDataFrame(rows, "user_id long, ts_ms long").coalesce(
            1
        ).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("user_id long, ts_ms long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        sessionize(stream, gap_ms=gap, allowed_lateness_ms=10_000_000)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sessionize_ooo_sink")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r["session_start_ms"], r["session_end_ms"], r["n_events"])
        for r in spark.table("sessionize_ooo_sink").collect()
    )
    assert got == [(0, 2000, 3), (5_000_000, 5_000_000, 1)]


def test_sessionize_drops_beyond_lateness(spark, tmp_path):
    """An event behind the per-key watermark is dropped — it must never
    fabricate a wrong session (the pre-round-4 failure mode)."""
    from end_end_data_pipeline__spark.streaming.stateful import sessionize

    src = str(tmp_path / "src")
    for rows in [[(1, 50_000_000)], [(1, 0)], [(1, 99_000_000)]]:
        spark.createDataFrame(rows, "user_id long, ts_ms long").coalesce(
            1
        ).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("user_id long, ts_ms long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        sessionize(stream, gap_ms=1_800_000, allowed_lateness_ms=0)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sessionize_drop_sink")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r["session_start_ms"], r["session_end_ms"], r["n_events"])
        for r in spark.table("sessionize_drop_sink").collect()
    )
    # t=0 arrived behind the watermark (50_000_000) → dropped; only the
    # 50M session finalizes (by the 99M sentinel); no fabricated session
    assert got == [(50_000_000, 50_000_000, 1)]


def _snapshot(spark, target, col):
    return {r["id"]: r[col] for r in mt.read_snapshot(spark, target).collect()}


def test_stream_cdc_file_source_end_to_end(spark, tmp_path):
    """File-source CDC stream → checkpointed foreachBatch merge →
    restart with new data resumes from the checkpoint (no reprocess)."""
    src, target, ckpt = (str(tmp_path / d) for d in ("src", "target", "ckpt"))
    os.makedirs(src)

    def write_lines(name, lines):
        with open(os.path.join(src, name), "w") as f:
            f.write("\n".join(lines))

    schema = schemas.cdc_row_schema("transactions")
    write_lines("b1.jsonl", [_tx_envelope(1, 10.0, "c", 100),
                             _tx_envelope(2, 5.0, "c", 100)])
    stream_cdc_file_source_versioned(
        spark, src, schema, ["id"], target, ckpt, n_buckets=4
    ).awaitTermination()
    assert _snapshot(spark, target, "amount") == {1: 10.0, 2: 5.0}

    write_lines("b2.jsonl", [_tx_envelope(1, 42.0, "u", 900),
                             _tx_envelope(2, None, "d", 900)])
    stream_cdc_file_source_versioned(
        spark, src, schema, ["id"], target, ckpt, n_buckets=4
    ).awaitTermination()
    assert _snapshot(spark, target, "amount") == {1: 42.0}


def test_stream_restart_resumes_from_checkpoint(spark, tmp_path):
    """Exactly-once across restarts (ST6/ST8): run the checkpointed
    upsert stream, stop, deliver more CDC files (updates + a delete),
    start a NEW query on the SAME checkpoint — the second run must
    process only the new files and converge to the merged state."""
    src, target, ckpt = (str(tmp_path / d) for d in ("src", "target", "ckpt"))
    os.makedirs(src)
    schema = schemas.cdc_row_schema("accounts")

    def envelopes(rows):
        df = spark.createDataFrame(
            rows,
            "id long, customer_id long, account_type string, balance double,"
            " currency string, created_at long, op string, ts_ms long",
        )
        cdc.encode_envelope(df, "op", "ts_ms", "accounts").coalesce(
            1
        ).write.mode("append").text(src)

    envelopes([(i, 1, "SAVINGS", 100.0 * i, "USD", 1_700_000_000_000_000, "c", i)
               for i in range(1, 6)])
    stream_cdc_file_source_versioned(
        spark, src, schema, ["id"], target, ckpt, n_buckets=4
    ).awaitTermination()
    assert _snapshot(spark, target, "balance") == {
        i: 100.0 * i for i in range(1, 6)}
    versions_after_first = mt.list_versions(spark, target)

    # batch 2: update id=2, delete id=3, insert id=6
    envelopes([
        (2, 1, "SAVINGS", 999.0, "USD", 1_700_000_000_000_000, "u", 100),
        (3, 1, "SAVINGS", 300.0, "USD", 1_700_000_000_000_000, "d", 101),
        (6, 1, "SAVINGS", 600.0, "USD", 1_700_000_000_000_000, "c", 102),
    ])
    stream_cdc_file_source_versioned(
        spark, src, schema, ["id"], target, ckpt, n_buckets=4
    ).awaitTermination()
    # the restart processed only the new file: exactly one more version
    assert mt.list_versions(spark, target) == (
        versions_after_first + [versions_after_first[-1] + 1])
    assert _snapshot(spark, target, "balance") == {
        1: 100.0, 2: 999.0, 4: 400.0, 5: 500.0, 6: 600.0}


def test_stateful_user_stats_matches_batch(spark, tmp_path):
    """applyInPandasWithState accumulates across micro-batches: force 2
    batches via maxFilesPerTrigger and check final state == batch agg."""
    from end_end_data_pipeline__spark.streaming.stateful import running_user_stats

    src = str(tmp_path / "src")
    rows1 = [(1, 100), (1, 200), (2, 50)]
    rows2 = [(1, 300), (2, 75), (3, 10)]
    for i, rows in enumerate([rows1, rows2]):
        spark.createDataFrame(rows, "user_id long, ts_ms long").coalesce(
            1
        ).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("user_id long, ts_ms long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        running_user_stats(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("stateful_test_sink")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    import pyspark.sql.functions as F

    final = {
        r["user_id"]: (r["n"], r["last"])
        for r in spark.table("stateful_test_sink")
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n"), F.max("last_event_ms").alias("last"))
        .collect()
    }
    assert final == {1: (3, 300), 2: (2, 75), 3: (1, 10)}


def test_tws_backend_guarded_without_protobuf(spark):
    """The transformWithStateInPandas backend needs google.protobuf
    (TWS state-server protocol).  Where it is absent the wrapper must
    fail fast with a clear ImportError, not crash the streaming python
    runner mid-query."""
    pytest.importorskip(
        "pyspark.sql.streaming.stateful_processor", reason="no TWS API"
    )
    try:
        import google.protobuf  # noqa: F401

        has_protobuf = True
    except ImportError:
        has_protobuf = False
    if has_protobuf:
        pytest.skip("protobuf present - covered by the live TWS test")
    from end_end_data_pipeline__spark.streaming.stateful import (
        running_user_stats_tws,
    )

    stream = (
        spark.readStream.schema("user_id long, ts_ms long")
        .parquet("/root/testdata")  # never started; guard fires first
    )
    with pytest.raises(ImportError, match="protobuf"):
        running_user_stats_tws(stream)


def test_tws_user_stats_matches_batch(spark, tmp_path):
    """transformWithStateInPandas form of the user-stats state machine
    (runs only where google.protobuf exists: the TWS python runner
    imports it for its state-server protocol)."""
    pytest.importorskip("google.protobuf", reason="TWS needs protobuf")
    from end_end_data_pipeline__spark.streaming.stateful import (
        running_user_stats_tws,
    )

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        src = str(tmp_path / "src")
        for rows in [[(1, 100), (1, 200), (2, 50)], [(1, 300), (2, 75), (3, 10)]]:
            spark.createDataFrame(rows, "user_id long, ts_ms long").coalesce(
                1
            ).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema("user_id long, ts_ms long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            running_user_stats_tws(stream)
            .writeStream.outputMode("update")
            .format("memory")
            .queryName("tws_test_sink")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        final = {
            r["user_id"]: (r["n"], r["last"])
            for r in spark.table("tws_test_sink")
            .groupBy("user_id")
            .agg(F.max("n_events").alias("n"), F.max("last_event_ms").alias("last"))
            .collect()
        }
        assert final == {1: (3, 300), 2: (2, 75), 3: (1, 10)}
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_stream_hll_incremental_equals_batch_sketch(spark):
    """The three-micro-batch incremental register merge must equal the
    single-shot batch sketch: same estimate, and genuinely three
    batches folded."""
    from end_end_data_pipeline__spark.operators import sketches
    from end_end_data_pipeline__spark.plans.queries_streaming import (
        stream_hll_incremental,
    )
    from tests.conftest import SF_SMOKE
    from end_end_data_pipeline__spark.sources import lake

    row = stream_hll_incremental(spark, SF_SMOKE).collect()[0]
    assert row["n_batches"] == 3

    ev = lake.load_table(spark, "events", SF_SMOKE).filter(
        F.col("user_id").isNotNull()
    )
    direct = sketches.hll_estimate(
        sketches.hll_build(ev, "user_id")
    ).collect()[0]
    assert row["hll_estimate"] == direct["hll_estimate"]
    assert row["n_zero_registers"] == direct["n_zero_registers"]
