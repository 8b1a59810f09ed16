"""Manifest-committed table (sources/manifest_table.py), the lake's CDC
write path: atomic commit via manifest rename — crash at ANY point
leaves the previous version fully visible — plus latest-wins merge
semantics, snapshot isolation / time travel / vacuum / optimistic
concurrency, and the checkpointed CDC stream into it (ST6/ST8)."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from end_end_data_pipeline__spark import schemas
from end_end_data_pipeline__spark.sources import cdc
from end_end_data_pipeline__spark.sources import manifest_table as mt


def _batch(spark, rows):
    """rows: (id, amount, op, ts_ms) → decode-shaped change frame."""
    df = spark.createDataFrame(rows, "id long, amount double, op string, ts_ms long")
    return df.select(
        "id", "op", "ts_ms",
        F.when(F.col("op") != "d", F.struct("id", "amount")).alias("after"),
    )


def test_merge_versioned_roundtrip_and_time_travel(spark, tmp_path):
    target = str(tmp_path / "t")
    v1 = mt.merge_versioned(
        _batch(spark, [(1, 10.0, "c", 1), (2, 20.0, "c", 1)]), target, ["id"],
        n_buckets=4,
    )
    v2 = mt.merge_versioned(
        _batch(spark, [(1, 99.0, "u", 2), (3, 30.0, "c", 2)]), target, ["id"],
        n_buckets=4,
    )
    v3 = mt.merge_versioned(
        _batch(spark, [(2, None, "d", 3)]), target, ["id"], n_buckets=4,
    )
    assert (v1, v2, v3) == (1, 2, 3)
    snap = lambda v: {  # noqa: E731
        r["id"]: r["amount"]
        for r in mt.read_snapshot(spark, target, v).collect()
    }
    assert snap(1) == {1: 10.0, 2: 20.0}
    assert snap(2) == {1: 99.0, 2: 20.0, 3: 30.0}
    assert snap(3) == {1: 99.0, 3: 30.0}
    assert snap(None) == snap(3)  # latest


def test_merge_versioned_crash_is_atomic(spark, tmp_path, monkeypatch):
    """Kill the writer between data write and manifest rename: the
    table stays at the OLD version with no ambiguity — readers and the
    next merge proceed normally (no refusal state: the manifest commit
    makes the crash invisible)."""
    target = str(tmp_path / "t")
    mt.merge_versioned(
        _batch(spark, [(1, 10.0, "c", 1), (2, 20.0, "c", 1)]), target, ["id"],
        n_buckets=4,
    )

    real = mt._commit_manifest

    def crashing(spark_, target_, manifest):
        raise RuntimeError("simulated crash before manifest rename")

    def crash_then_retry(rows, pending_before):
        """Crash the commit of ``rows``, check nothing changed, retry."""
        versions = mt.list_versions(spark, target)
        before = {r["id"]: r["amount"] for r in mt.read_snapshot(spark, target).collect()}
        latest = mt._read_manifest(spark, target, versions[-1])
        assert len(latest["deltas"]) == pending_before
        monkeypatch.setattr(mt, "_commit_manifest", crashing)
        with pytest.raises(RuntimeError, match="simulated"):
            mt.merge_versioned(_batch(spark, rows), target, ["id"], n_buckets=4)
        monkeypatch.undo()
        # old state fully intact and readable — no refusal, no data loss
        assert mt.list_versions(spark, target) == versions
        state = {r["id"]: r["amount"] for r in mt.read_snapshot(spark, target).collect()}
        assert state == before
        # and the retried merge commits cleanly on top
        v = mt.merge_versioned(_batch(spark, rows), target, ["id"], n_buckets=4)
        assert v == versions[-1] + 1
        return {r["id"]: r["amount"] for r in mt.read_snapshot(spark, target).collect()}

    # a delta commit (no delta pending yet)
    assert crash_then_retry([(1, 99.0, "u", 2)], 0) == {1: 99.0, 2: 20.0}
    assert len(mt._read_manifest(spark, target, 2)["deltas"]) == 1
    for ts in (3, 4, 5):
        mt.merge_versioned(_batch(spark, [(3, float(ts), "u", ts)]), target, ["id"])
    # a fold (four deltas pending)
    assert crash_then_retry([(2, None, "d", 6)], 4) == {1: 99.0, 3: 5.0}
    assert mt._read_manifest(spark, target, 6)["deltas"] == []
    assert real is mt._commit_manifest


def test_merge_versioned_detects_concurrent_commit(spark, tmp_path, monkeypatch):
    """Optimistic concurrency: two writers read version 1, both try to
    commit version 2 — the second one's commit must refuse instead of
    clobbering.  Simulated by pinning this writer's version listing to
    the stale view while the racing writer's manifest-v2 lands."""
    target = str(tmp_path / "t")
    mt.merge_versioned(_batch(spark, [(1, 1.0, "c", 1)]), target, ["id"], n_buckets=2)
    monkeypatch.setattr(mt, "list_versions", lambda s, t: [1])  # stale read
    with open(os.path.join(target, "manifest-v2.json"), "w") as f:
        f.write('{"version": 2, "buckets": {}}')  # racing writer wins
    with pytest.raises(RuntimeError, match="race"):
        mt.merge_versioned(
            _batch(spark, [(1, 2.0, "u", 2)]), target, ["id"], n_buckets=2
        )
    monkeypatch.undo()
    # the losing writer's retry (fresh read) commits v3 on top
    v = mt.merge_versioned(
        _batch(spark, [(1, 2.0, "u", 2)]), target, ["id"], n_buckets=2
    )
    assert v == 3


def test_vacuum_keeps_recent_versions_readable(spark, tmp_path):
    target = str(tmp_path / "t")
    for i in range(1, 5):
        mt.merge_versioned(
            _batch(spark, [(1, float(i), "u" if i > 1 else "c", i)]),
            target, ["id"], n_buckets=2,
        )
    removed = mt.vacuum(spark, target, keep_last=2)
    assert removed == [1, 2]
    assert mt.list_versions(spark, target) == [3, 4]
    assert {r["amount"] for r in mt.read_snapshot(spark, target, 3).collect()} == {3.0}
    assert {r["amount"] for r in mt.read_snapshot(spark, target, 4).collect()} == {4.0}
    with pytest.raises(FileNotFoundError):
        mt.read_snapshot(spark, target, 1)


def test_merge_versioned_cdc_envelope_end_to_end(spark, tmp_path):
    """The banking CDC envelopes the streaming upsert consumes merge
    through the versioned table: update and delete applied."""
    import json as _json

    target = str(tmp_path / "t")

    def env(id, amount, op, ts):
        after = None if op == "d" else {
            "id": id, "account_id": 1, "txn_type": "DEPOSIT", "amount": amount,
            "related_account_id": None, "status": "COMPLETED",
            "created_at": 1719792000000000,
        }
        before = None if op == "c" else dict(after or {}, id=id)
        if op == "d":
            before = {"id": id, "account_id": 1, "txn_type": "DEPOSIT",
                      "amount": 1.0, "related_account_id": None,
                      "status": "COMPLETED", "created_at": 1719792000000000}
        return _json.dumps({"payload": {"before": before, "after": after,
                                        "op": op, "ts_ms": ts,
                                        "source": {"table": "transactions"}}})

    raw = spark.createDataFrame(
        [(env(1, 10.0, "c", 1),), (env(2, 5.0, "c", 1),),
         (env(1, 42.0, "u", 2),), (env(2, None, "d", 2),)],
        ["value"],
    )
    batch = cdc.decode(
        cdc.parse_envelope(raw, schemas.cdc_row_schema("transactions")), ["id"]
    )
    mt.merge_versioned(batch, target, ["id"], n_buckets=4)
    state = {r["id"]: r["amount"] for r in mt.read_snapshot(spark, target).collect()}
    assert state == {1: 42.0}


def test_stream_cdc_versioned_restart_resumes(spark, tmp_path):
    """The streaming wiring on the versioned backend: checkpointed
    foreachBatch commits one table version per micro-batch, a restart
    processes only new files, and history stays queryable."""
    from end_end_data_pipeline__spark.streaming.upsert import (
        stream_cdc_file_source_versioned,
    )

    src, target, ckpt = (str(tmp_path / d) for d in ("src", "t", "ckpt"))
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
               for i in range(1, 4)])
    q1 = stream_cdc_file_source_versioned(
        spark, src, schema, ["id"], target, ckpt, n_buckets=4
    )
    q1.awaitTermination()
    s1 = {r["id"]: r["balance"]
          for r in mt.read_snapshot(spark, target).collect()}
    assert s1 == {1: 100.0, 2: 200.0, 3: 300.0}
    v_after_first = mt.list_versions(spark, target)[-1]

    # wave 2: update id=2, delete id=3, insert id=6
    envelopes([(2, 1, "SAVINGS", 999.0, "USD", 1_700_000_000_000_000, "u", 10),
               (3, 1, "SAVINGS", 300.0, "USD", 1_700_000_000_000_000, "d", 11),
               (6, 1, "SAVINGS", 600.0, "USD", 1_700_000_000_000_000, "c", 12)])
    q2 = stream_cdc_file_source_versioned(
        spark, src, schema, ["id"], target, ckpt, n_buckets=4
    )
    q2.awaitTermination()
    # the restart processed only the new file: one more version
    assert mt.list_versions(spark, target)[-1] == v_after_first + 1
    s2 = {r["id"]: r["balance"]
          for r in mt.read_snapshot(spark, target).collect()}
    assert s2 == {1: 100.0, 2: 999.0, 6: 600.0}
    # and version-pinned history still shows the pre-update state
    old = {r["id"]: r["balance"]
           for r in mt.read_snapshot(spark, target, v_after_first).collect()}
    assert old == s1


def test_merge_versioned_idempotent_replay(spark, tmp_path):
    """ST6/ST8: re-applying the same batch (at-least-once replay) leaves
    the content unchanged — latest-wins makes the merge idempotent —
    and a later update still applies on top of the replayed state."""
    target = str(tmp_path / "t")
    snap = lambda: sorted(  # noqa: E731
        (r["id"], r["amount"]) for r in mt.read_snapshot(spark, target).collect())
    batch = _batch(spark, [(1, 10.0, "c", 100), (2, 5.0, "c", 100)])
    mt.merge_versioned(batch, target, ["id"], n_buckets=4)
    first = snap()
    mt.merge_versioned(batch, target, ["id"])  # replay
    assert first == snap() == [(1, 10.0), (2, 5.0)]

    mt.merge_versioned(_batch(spark, [(1, 99.0, "u", 500)]), target, ["id"])
    assert snap() == [(1, 99.0), (2, 5.0)]


def test_merge_versioned_rewrites_only_affected_buckets(spark, tmp_path):
    """The merge is bucket-scoped: a delta commit rewrites no bucket at
    all, and the fold of deltas that touch one key replaces only that
    key's bucket in the manifest — every other bucket keeps its exact
    file list."""
    target = str(tmp_path / "t")
    n_buckets = 8
    rows = [(i, float(i), "c", 100) for i in range(1, 33)]
    mt.merge_versioned(_batch(spark, rows), target, ["id"], n_buckets=n_buckets)
    before = mt._read_manifest(spark, target, 1)["buckets"]
    assert len(before) > 1  # 32 keys spread over 8 buckets

    touched = str(
        _batch(spark, [(1, 0.0, "u", 0)])
        .selectExpr(f"pmod(xxhash64(id), {n_buckets}) b").first()["b"]
    )
    for v in range(2, 7):  # four delta commits, then the fold
        mt.merge_versioned(
            _batch(spark, [(1, 990.0 + v, "u", 500 + v)]), target, ["id"]
        )
        m = mt._read_manifest(spark, target, v)
        assert len(m["deltas"]) == (v - 1) % 5
        if m["deltas"]:
            assert m["buckets"] == before
            assert m["deltas"][-1]["buckets"] == [touched]
    after = mt._read_manifest(spark, target, 6)["buckets"]
    assert set(after) == set(before)
    assert after[touched] != before[touched]  # rewritten
    for b in before:
        if b != touched:
            assert after[b] == before[b], f"untouched bucket rewritten: {b}"
    state = {r["id"]: r["amount"] for r in mt.read_snapshot(spark, target).collect()}
    assert state[1] == 996.0 and len(state) == 32


def test_merge_versioned_drops_fully_deleted_bucket(spark, tmp_path):
    """A bucket whose only key is tombstoned reads empty at once and
    drops out of the manifest when the delete is folded; a later
    insert re-seeds the emptied table, readable from its delta alone
    (a key in a bucket with no base file)."""
    target = str(tmp_path / "t")
    mt.merge_versioned(_batch(spark, [(7, 7.0, "c", 100)]), target, ["id"],
                       n_buckets=4)
    assert len(mt._read_manifest(spark, target, 1)["buckets"]) == 1

    mt.merge_versioned(_batch(spark, [(7, None, "d", 200)]), target, ["id"])
    assert mt.read_snapshot(spark, target).count() == 0
    assert mt.compact(spark, target) == 3  # folds the tombstone
    assert mt._read_manifest(spark, target, 3)["buckets"] == {}
    mt.merge_versioned(_batch(spark, [(8, 8.0, "c", 300)]), target, ["id"])
    m = mt._read_manifest(spark, target, 4)
    assert m["buckets"] == {} and len(m["deltas"]) == 1
    assert {r["id"] for r in mt.read_snapshot(spark, target).collect()} == {8}
    assert [r["id"] for r in mt.read_keys(spark, target, ["id"], [(8,)]).collect()] == [8]


def test_merge_versioned_custom_version_col(spark, tmp_path):
    """A non-default ``version_col`` threads through decode-shaped
    batches end to end: within-batch ordering follows it, not arrival
    order, and a replay is a content no-op."""
    target = str(tmp_path / "t")

    def to_batch(rows):
        df = spark.createDataFrame(rows, "id long, amount double, op string, seq long")
        return df.select(
            "id", "op", "seq",
            F.when(F.col("op") != "d", F.struct("id", "amount")).alias("after"),
        )

    mt.merge_versioned(to_batch([(1, 10.0, "c", 5), (2, 20.0, "c", 5)]),
                       target, ["id"], version_col="seq", n_buckets=4)
    batch2 = to_batch([(1, 99.0, "u", 9), (1, 55.0, "u", 7)])
    mt.merge_versioned(batch2, target, ["id"], version_col="seq")
    mt.merge_versioned(batch2, target, ["id"], version_col="seq")  # replay
    state = {r["id"]: r["amount"] for r in mt.read_snapshot(spark, target).collect()}
    assert state == {1: 99.0, 2: 20.0}


def test_read_keys_prunes_buckets(spark, tmp_path):
    """Point lookup touches only the keys' buckets' files — verified by
    checking the scanned file set in the plan — and returns exactly the
    requested live keys."""
    target = str(tmp_path / "t")
    rows = [(i, float(i), "c", 1) for i in range(1, 33)]
    mt.merge_versioned(_batch(spark, rows), target, ["id"], n_buckets=8)
    out = mt.read_keys(spark, target, ["id"], [(7,), (19,)], n_buckets=8)
    got = {(r["id"], r["amount"]) for r in out.collect()}
    assert got == {(7, 7.0), (19, 19.0)}
    # pruning: the lookup's scan reads only the touched buckets' files
    manifest = mt._read_manifest(spark, target, 1)
    all_files = sum(len(fl) for fl in manifest["buckets"].values())
    buckets_scanned = {
        f.split("p_bucket=")[1].split("/")[0]
        for f in out.inputFiles()
        if "p_bucket=" in f
    }
    assert 0 < len(buckets_scanned) <= 2
    assert len(out.inputFiles()) < all_files
    # missing keys and deleted keys return nothing
    mt.merge_versioned(_batch(spark, [(7, None, "d", 2)]), target, ["id"], n_buckets=8)
    out2 = mt.read_keys(spark, target, ["id"], [(7,), (999,)], n_buckets=8)
    assert out2.count() == 0


def _int_batch(spark, rows):
    """Like _batch but with an INT (not long) key column."""
    df = spark.createDataFrame(rows, "id int, amount double, op string, ts_ms long")
    return df.select(
        "id", "op", "ts_ms",
        F.when(F.col("op") != "d", F.struct("id", "amount")).alias("after"),
    )


def test_two_writer_race_preserves_winner_data(spark, tmp_path, monkeypatch):
    """The full ADVICE-r04 race: A and B both read v1 and both target
    v2.  Writer-unique data dirs mean B's overwrite can never delete
    A's committed part files, B's lost commit deletes only B's own
    orphan dir, and dml_retry(merge_versioned, ...) converges with BOTH
    batches applied."""
    target = str(tmp_path / "t")
    mt.merge_versioned(_batch(spark, [(1, 1.0, "c", 1)]), target, ["id"], n_buckets=2)

    # writer A commits v2
    mt.merge_versioned(_batch(spark, [(2, 2.0, "c", 2)]), target, ["id"], n_buckets=2)

    # writer B raced: it read the table while v1 was latest
    real_list = mt.list_versions
    calls = {"n": 0}

    def stale_once(s, t):
        calls["n"] += 1
        return [1] if calls["n"] == 1 else real_list(s, t)

    monkeypatch.setattr(mt, "list_versions", stale_once)
    v = mt.dml_retry(
        mt.merge_versioned,
        _batch(spark, [(3, 3.0, "c", 3)]), target, ["id"], n_buckets=2,
    )
    monkeypatch.undo()
    assert v == 3
    # converged state holds BOTH writers' rows
    state = {r["id"]: r["amount"] for r in mt.read_snapshot(spark, target).collect()}
    assert state == {1: 1.0, 2: 2.0, 3: 3.0}
    # A's committed v2 is still fully readable — B never touched A's files
    s2 = {r["id"]: r["amount"] for r in mt.read_snapshot(spark, target, 2).collect()}
    assert s2 == {1: 1.0, 2: 2.0}
    # B's losing attempt left no orphan data dir: one dir per commit
    data_dirs = os.listdir(os.path.join(target, "data"))
    assert len(data_dirs) == 3


def test_retry_exhaustion_raises_last_race_error(spark, tmp_path, monkeypatch):
    target = str(tmp_path / "t")
    mt.merge_versioned(_batch(spark, [(1, 1.0, "c", 1)]), target, ["id"], n_buckets=2)
    mt.merge_versioned(_batch(spark, [(2, 2.0, "c", 2)]), target, ["id"], n_buckets=2)
    monkeypatch.setattr(mt, "list_versions", lambda s, t: [1])  # forever stale
    with pytest.raises(RuntimeError, match="race"):
        mt.dml_retry(
            mt.merge_versioned,
            _batch(spark, [(3, 3.0, "c", 3)]), target, ["id"],
            n_buckets=2, max_attempts=2,
        )


def test_empty_committed_state_reads_back_empty(spark, tmp_path):
    """A merge that deletes every key is a legitimate state: reads
    return an EMPTY frame with the table schema (from the manifest),
    not an error — for snapshots and point lookups alike."""
    target = str(tmp_path / "t")
    mt.merge_versioned(_batch(spark, [(1, 1.0, "c", 1)]), target, ["id"], n_buckets=2)
    mt.merge_versioned(_batch(spark, [(1, None, "d", 2)]), target, ["id"], n_buckets=2)
    snap = mt.read_snapshot(spark, target)
    assert snap.columns == ["id", "amount"]
    assert snap.count() == 0
    looked = mt.read_keys(spark, target, ["id"], [(1,)], n_buckets=2)
    assert looked.columns == ["id", "amount"]
    assert looked.count() == 0
    # history before the delete still reads normally
    assert mt.read_snapshot(spark, target, 1).count() == 1


def test_read_keys_casts_probe_keys_to_table_types(spark, tmp_path):
    """xxhash64 is type-sensitive: on an INT-keyed table, a Python
    literal probe (inferred long) must be cast to the table's key type
    or pruning silently selects the wrong buckets."""
    target = str(tmp_path / "t")
    rows = [(i, float(i), "c", 1) for i in range(1, 33)]
    mt.merge_versioned(_int_batch(spark, rows), target, ["id"], n_buckets=8)
    # sanity: int vs long really do bucket differently for some key
    import pyspark.sql.functions as SF
    probe = spark.range(1, 33).select(
        SF.pmod(SF.xxhash64(SF.col("id").cast("int")), SF.lit(8)).alias("bi"),
        SF.pmod(SF.xxhash64(SF.col("id")), SF.lit(8)).alias("bl"),
    )
    assert probe.filter("bi <> bl").count() > 0
    out = mt.read_keys(spark, target, ["id"], [(7,), (19,)], n_buckets=8)
    got = {(r["id"], r["amount"]) for r in out.collect()}
    assert got == {(7, 7.0), (19, 19.0)}


def test_merge_refuses_key_type_drift(spark, tmp_path):
    """A batch whose key column type drifted from the table's would
    bucket-hash differently — the merge must refuse loudly."""
    target = str(tmp_path / "t")
    mt.merge_versioned(_batch(spark, [(1, 1.0, "c", 1)]), target, ["id"], n_buckets=2)
    with pytest.raises(TypeError, match="type-sensitive"):
        mt.merge_versioned(
            _int_batch(spark, [(2, 2.0, "c", 2)]), target, ["id"], n_buckets=2
        )


def test_stream_versioned_crash_mid_batch_exactly_once(spark, tmp_path, monkeypatch):
    """Crash injection on BOTH sides of the streaming commit point:

    1. crash BEFORE the manifest rename (batch 2, a delta commit) → no
       version exists; the restart replays the batch and commits it;
    2. crash AFTER the rename but before the checkpoint advances
       (batch 3, a delta commit) → the restart replays batch 3 and
       commits ONE MORE version with identical content (latest-wins
       makes the replay a no-op on content);
    3. crash BEFORE the rename of a fold (batch 5, four deltas
       pending) → the restart replays it and the fold commits.

    Net: content converges to the batch-replay truth through three kill
    points — the exactly-once story is checkpoint replay + atomic
    manifest versions, end to end."""
    import pytest as _pytest

    from end_end_data_pipeline__spark.streaming.upsert import (
        stream_cdc_file_source_versioned,
    )

    src, target, ckpt = (str(tmp_path / d) for d in ("src", "t", "ckpt"))
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
               for i in range(1, 5)])                     # wave 1: ids 1-4
    envelopes([(2, 1, "SAVINGS", 999.0, "USD", 1_700_000_000_000_000, "u", 10)])
    envelopes([(3, 1, "SAVINGS", 0.0, "USD", 1_700_000_000_000_000, "d", 20),
               (4, 1, "SAVINGS", 444.0, "USD", 1_700_000_000_000_000, "u", 21)])
    envelopes([(5, 1, "SAVINGS", 500.0, "USD", 1_700_000_000_000_000, "c", 30)])
    envelopes([(1, 1, "SAVINGS", 111.0, "USD", 1_700_000_000_000_000, "u", 40)])
    envelopes([(5, 1, "SAVINGS", 0.0, "USD", 1_700_000_000_000_000, "d", 50),
               (7, 1, "SAVINGS", 700.0, "USD", 1_700_000_000_000_000, "c", 51)])

    real = mt.merge_versioned
    calls = {"n": 0, "mode": "pre"}

    def pending():
        latest = mt.list_versions(spark, target)[-1]
        return len(mt._read_manifest(spark, target, latest)["deltas"])

    def crashing(batch, target_, key_cols, **kw):
        calls["n"] += 1
        if calls["mode"] == "pre" and calls["n"] == 2:
            assert pending() == 0  # this commit would be a delta
            raise RuntimeError("simulated crash BEFORE commit")
        if calls["mode"] == "fold" and pending() == 4:
            raise RuntimeError("simulated crash BEFORE fold")
        v = real(batch, target_, key_cols, **kw)
        if calls["mode"] == "post" and calls["n"] == 4:
            raise RuntimeError("simulated crash AFTER commit")
        return v

    monkeypatch.setattr(mt, "merge_versioned", crashing)

    def start():
        return stream_cdc_file_source_versioned(
            spark, src, schema, ["id"], target, ckpt,
            max_files_per_trigger=1, n_buckets=4,
        )

    with _pytest.raises(Exception, match="BEFORE commit"):
        start().awaitTermination()
    assert mt.list_versions(spark, target) == [1]  # batch 2 never committed

    calls["mode"] = "post"
    with _pytest.raises(Exception, match="AFTER commit"):
        start().awaitTermination()
    # batch 2 replayed (v2) and batch 3 committed (v3) before the crash
    assert mt.list_versions(spark, target) == [1, 2, 3]

    snap = lambda v=None: {  # noqa: E731
        r["id"]: r["balance"] for r in mt.read_snapshot(spark, target, v).collect()}
    calls["mode"] = "fold"
    with _pytest.raises(Exception, match="BEFORE fold"):
        start().awaitTermination()
    # batch 3 replay committed v4 with content identical to v3, batch 4
    # v5; the fold of batch 5 never committed
    assert mt.list_versions(spark, target) == [1, 2, 3, 4, 5]
    assert snap(4) == snap(3) == {1: 100.0, 2: 999.0, 4: 444.0}
    assert [len(mt._read_manifest(spark, target, v)["deltas"])
            for v in range(1, 6)] == [0, 1, 2, 3, 4]

    calls["mode"] = "done"
    start().awaitTermination()
    # batch 5 replayed as the fold (v6), batch 6 a delta on top (v7)
    assert mt.list_versions(spark, target) == [1, 2, 3, 4, 5, 6, 7]
    assert mt._read_manifest(spark, target, 6)["deltas"] == []
    assert snap(6) == {1: 111.0, 2: 999.0, 4: 444.0, 5: 500.0}
    assert snap() == {1: 111.0, 2: 999.0, 4: 444.0, 7: 700.0}


def test_compact_rewrites_small_files_content_identical(spark, tmp_path):
    """OPTIMIZE for the manifest table: merges leave one part file per
    shuffle task per touched bucket; compact() rewrites over-limit
    buckets to one file each as a NEW content-identical version, old
    snapshots stay readable, and vacuum reclaims the superseded
    files."""
    target = str(tmp_path / "t")
    # 3 merges × 8 shuffle tasks → several files per bucket (AQE
    # coalescing would fold this tiny data back to one task, hiding
    # the very state compaction exists for — disable it for the setup)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        for wave in range(3):
            rows = [(i, float(i + 100 * wave), "c" if wave == 0 else "u",
                     wave + 1) for i in range(1, 65)]
            mt.merge_versioned(_batch(spark, rows), target, ["id"], n_buckets=4)
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    manifest = mt._read_manifest(spark, target, 3)
    pre_files = {b: len(fl) for b, fl in manifest["buckets"].items()}
    assert any(n > 1 for n in pre_files.values()), pre_files
    before = {r["id"]: r["amount"]
              for r in mt.read_snapshot(spark, target).collect()}

    v = mt.compact(spark, target)
    assert v == 4
    after_manifest = mt._read_manifest(spark, target, 4)
    assert all(len(fl) == 1 for fl in after_manifest["buckets"].values())
    after = {r["id"]: r["amount"]
             for r in mt.read_snapshot(spark, target).collect()}
    assert after == before
    # the pre-compaction snapshot is still independently readable
    old = {r["id"]: r["amount"] for r in mt.read_snapshot(spark, target, 3).collect()}
    assert old == before
    # point lookups prune against the compacted layout
    got = {(r["id"], r["amount"])
           for r in mt.read_keys(spark, target, ["id"], [(7,)], n_buckets=4).collect()}
    assert got == {(7, 207.0)}
    # compacting an already-compact table is a no-op (no empty commit)
    assert mt.compact(spark, target) is None
    assert mt.list_versions(spark, target) == [1, 2, 3, 4]
    # vacuum drops the superseded versions; the compacted one survives
    removed = mt.vacuum(spark, target, keep_last=1)
    assert removed == [1, 2, 3]
    still = {r["id"]: r["amount"] for r in mt.read_snapshot(spark, target).collect()}
    assert still == before


def test_schema_evolution_add_column_on_merge(spark, tmp_path):
    """A merge batch may carry NEW after-struct columns: rows that
    predate the column read back null, every snapshot keeps ITS
    version's schema, and partial-row batches / type changes are
    refused."""
    target = str(tmp_path / "t")
    mt.merge_versioned(
        _batch(spark, [(1, 1.0, "c", 1), (2, 2.0, "c", 1)]), target, ["id"],
        n_buckets=2,
    )

    def batch_v2(rows):
        df = spark.createDataFrame(
            rows, "id long, amount double, status string, op string, ts_ms long"
        )
        return df.select(
            "id", "op", "ts_ms",
            F.when(F.col("op") != "d",
                   F.struct("id", "amount", "status")).alias("after"),
        )

    v = mt.merge_versioned(
        batch_v2([(2, 22.0, "ACTIVE", "u", 2), (3, 3.0, "NEW", "c", 2)]),
        target, ["id"], n_buckets=2,
    )
    assert v == 2
    snap = mt.read_snapshot(spark, target)
    assert snap.columns == ["id", "amount", "status"]
    state = {r["id"]: (r["amount"], r["status"]) for r in snap.collect()}
    # untouched row 1 predates the column -> null status
    assert state == {1: (1.0, None), 2: (22.0, "ACTIVE"), 3: (3.0, "NEW")}
    # time travel: version 1 keeps the pre-evolution schema
    assert mt.read_snapshot(spark, target, 1).columns == ["id", "amount"]
    # point lookups see the evolved schema too
    looked = mt.read_keys(spark, target, ["id"], [(1,), (3,)], n_buckets=2)
    got = {(r["id"], r["amount"], r["status"]) for r in looked.collect()}
    assert got == {(1, 1.0, None), (3, 3.0, "NEW")}
    # partial-row batch (missing an existing column) is refused
    def batch_only_amount(rows):
        df = spark.createDataFrame(rows, "id long, status string, op string, ts_ms long")
        return df.select(
            "id", "op", "ts_ms",
            F.when(F.col("op") != "d", F.struct("id", "status")).alias("after"),
        )
    with pytest.raises(ValueError, match="full rows"):
        mt.merge_versioned(
            batch_only_amount([(1, "X", "u", 3)]), target, ["id"], n_buckets=2
        )
    # type change on an existing column is refused
    def batch_int_amount(rows):
        df = spark.createDataFrame(rows, "id long, amount int, op string, ts_ms long")
        return df.select(
            "id", "op", "ts_ms",
            F.when(F.col("op") != "d",
                   F.struct("id", "amount",
                            F.lit("Y").alias("status"))).alias("after"),
        )
    with pytest.raises(TypeError, match="type changes"):
        mt.merge_versioned(
            batch_int_amount([(1, 9, "u", 3)]), target, ["id"], n_buckets=2
        )


# ---------------------------------------------------------------- stats


def test_file_matches_prune_semantics():
    """Pure prune logic: conservative on missing/all-null stats, exact
    interval arithmetic on every supported op."""
    s = {"v": [10, 20]}
    fm = mt._file_matches
    assert fm(None, "v", "=", 15)          # no stats at all
    assert fm({}, "v", "=", 15)            # column unknown
    assert fm({"v": [None, None]}, "v", "=", 15)  # all-null file
    assert fm(s, "v", "=", 10) and fm(s, "v", "=", 20)
    assert not fm(s, "v", "=", 9) and not fm(s, "v", "=", 21)
    assert fm(s, "v", "<", 11) and not fm(s, "v", "<", 10)
    assert fm(s, "v", "<=", 10) and not fm(s, "v", "<=", 9)
    assert fm(s, "v", ">", 19) and not fm(s, "v", ">", 20)
    assert fm(s, "v", ">=", 20) and not fm(s, "v", ">=", 21)
    with pytest.raises(ValueError, match="prune op"):
        fm(s, "v", "!=", 5)


def test_merge_commits_file_stats_and_read_where_matches_filter(spark, tmp_path):
    """Every commit carries per-file [min, max] for eligible columns,
    and read_where returns exactly read_snapshot().filter(...)."""
    target = str(tmp_path / "t")
    rows = [(i, float(i), "c", 1) for i in range(1, 65)]
    mt.merge_versioned(_batch(spark, rows), target, ["id"], n_buckets=4)
    manifest = mt._read_manifest(spark, target, 1)
    files = [f for fl in manifest["buckets"].values() for f in fl]
    assert files and set(manifest["stats"]) == set(files)
    for st in manifest["stats"].values():
        assert set(st) == {"id", "amount", "__rows", "__nulls"}
        lo, hi = st["amount"]
        assert 1.0 <= lo <= hi <= 64.0
    got = {
        (r["id"], r["amount"])
        for r in mt.read_where(
            spark, target, [("amount", ">=", 10.0), ("amount", "<", 13.0)]
        ).collect()
    }
    assert got == {(10, 10.0), (11, 11.0), (12, 12.0)}


def test_compact_cluster_by_restores_skipping_selectivity(spark, tmp_path):
    """The OPTIMIZE-with-clustering path: after cluster_by compaction
    each bucket splits into value-sorted files with near-disjoint
    ranges, so a narrow band prunes MOST files while the result stays
    identical to the unpruned filter."""
    target = str(tmp_path / "t")
    rows = [(i, float(i), "c", 1) for i in range(1, 257)]
    mt.merge_versioned(_batch(spark, rows), target, ["id"], n_buckets=4)
    v = mt.compact(
        spark, target, cluster_by=["amount"], max_records_per_file=16
    )
    assert v == 2
    manifest = mt._read_manifest(spark, target, 2)
    n_total = sum(len(fl) for fl in manifest["buckets"].values())
    assert n_total >= 12  # ~256/16 split across 4 buckets
    assert set(manifest["stats"]) == {
        f for fl in manifest["buckets"].values() for f in fl
    }
    band = [("amount", ">=", 100.0), ("amount", "<=", 110.0)]
    kept = mt.prune_files(manifest, band)
    assert 0 < len(kept) <= n_total // 2, (len(kept), n_total)
    out = mt.read_where(spark, target, band)
    assert set(out.inputFiles()) <= {
        f"file:{target}/{f}" for f in kept
    } | {f"file://{target}/{f}" for f in kept}
    expect = {(i, float(i)) for i in range(100, 111)}
    assert {(r["id"], r["amount"]) for r in out.collect()} == expect
    # content-identical to the pre-compaction version
    assert mt.read_snapshot(spark, target, 2).count() == 256


def test_stats_carry_forward_for_untouched_buckets(spark, tmp_path):
    """Files are immutable, so a commit carries prior files' stats
    untouched; every live file has stats after any merge sequence."""
    target = str(tmp_path / "t")
    mt.merge_versioned(
        _batch(spark, [(i, float(i), "c", 1) for i in range(1, 33)]),
        target, ["id"], n_buckets=8,
    )
    # touch one key: a delta commit carries every file and stat ...
    mt.merge_versioned(
        _batch(spark, [(7, 700.0, "u", 2)]), target, ["id"], n_buckets=8
    )
    v1 = mt._read_manifest(spark, target, 1)
    assert mt._read_manifest(spark, target, 2)["stats"] == v1["stats"]
    # ... and folding it rewrites its bucket, the rest carried
    assert mt.compact(spark, target, max_files_per_bucket=10**6) == 3
    manifest = mt._read_manifest(spark, target, 3)
    live = {f for fl in manifest["buckets"].values() for f in fl}
    assert set(manifest["stats"]) == live
    rewritten = [b for b, fl in manifest["buckets"].items() if fl != v1["buckets"][b]]
    assert len(rewritten) == 1 and set(manifest["buckets"]) == set(v1["buckets"])
    carried = live & set(v1["stats"])
    assert carried == live - set(manifest["buckets"][rewritten[0]])
    assert all(manifest["stats"][f] == v1["stats"][f] for f in carried)
    # the rewritten bucket's new file reflects the updated max
    hits = mt.prune_files(manifest, [("amount", ">=", 700.0)])
    assert len(hits) >= 1
    got = {
        (r["id"], r["amount"])
        for r in mt.read_where(spark, target, [("amount", ">=", 700.0)]).collect()
    }
    assert got == {(7, 700.0)}


def test_read_where_timestamp_predicates(spark, tmp_path):
    """Timestamp stats round-trip as epoch-MICROSECOND integers (the
    absolute instant — never a local-calendar datetime or ISO string,
    which shift with the TZ env var); naive datetime predicates mean
    UTC wall time and prune + filter correctly.  Data is built in-plan
    via timestamp_seconds (TZ-free), not Python datetimes (whose
    createDataFrame conversion goes through the local calendar)."""
    import datetime as dt

    target = str(tmp_path / "t")
    epoch_2024 = 1704067200  # 2024-01-01 UTC
    df = (
        spark.range(1, 31)
        .select(
            F.col("id"),
            F.lit("c").alias("op"),
            F.lit(1).cast("long").alias("ts_ms"),
            F.timestamp_seconds(
                F.lit(epoch_2024) + F.col("id") * 86400
            ).alias("created"),
        )
        .select(
            "id", "op", "ts_ms",
            F.when(F.col("op") != "d", F.struct("id", "created")).alias("after"),
        )
    )
    mt.merge_versioned(df, target, ["id"], n_buckets=2)
    manifest = mt._read_manifest(spark, target, 1)
    some = next(iter(manifest["stats"].values()))
    assert isinstance(some["created"][0], int)  # epoch-micros-encoded
    lo = dt.datetime(2024, 1, 11)
    hi = dt.datetime(2024, 1, 13)
    got = {
        r["id"]
        for r in mt.read_where(
            spark, target, [("created", ">=", lo), ("created", "<=", hi)]
        ).collect()
    }
    assert got == {10, 11, 12}


def test_read_where_empty_prune_returns_typed_empty(spark, tmp_path):
    """A predicate outside every file's range reads ZERO files and
    still returns the table schema."""
    target = str(tmp_path / "t")
    mt.merge_versioned(
        _batch(spark, [(i, float(i), "c", 1) for i in range(1, 17)]),
        target, ["id"], n_buckets=2,
    )
    manifest = mt._read_manifest(spark, target, 1)
    assert mt.prune_files(manifest, [("amount", ">", 1e9)]) == []
    out = mt.read_where(spark, target, [("amount", ">", 1e9)])
    assert out.columns == ["id", "amount"]
    assert out.count() == 0


# ------------------------------------------------------------ MERGE INTO


def _state_df(spark, rows):
    return spark.createDataFrame(rows, "id long, amount double, note string")


def test_merge_into_full_clause_surface(spark, tmp_path):
    """Delta-style MERGE: delete clause first, source-replace update,
    insert of unmatched source rows; unmatched target rows (even in
    affected buckets) survive untouched."""
    target = str(tmp_path / "t")
    # v1 via merge_into on a fresh table = insert-all
    v = mt.merge_into(
        _state_df(spark, [(1, 10.0, "a"), (2, 20.0, "b"), (3, 30.0, "c"),
                          (4, 40.0, "d")]),
        target, ["id"], n_buckets=2,
    )
    assert v == 1
    src = _state_df(spark, [(2, 99.0, "upd"),       # matched -> replace
                            (3, 0.0, "kill"),        # matched -> delete
                            (9, 90.0, "new")])       # unmatched -> insert
    v = mt.merge_into(
        src, target, ["id"],
        when_matched_delete="s.note = 'kill'",
        n_buckets=2,
    )
    assert v == 2
    state = {r["id"]: (r["amount"], r["note"])
             for r in mt.read_snapshot(spark, target).collect()}
    assert state == {1: (10.0, "a"), 2: (99.0, "upd"),
                     4: (40.0, "d"), 9: (90.0, "new")}
    # time travel: v1 untouched
    assert mt.read_snapshot(spark, target, 1).count() == 4


def test_merge_into_partial_update_expressions(spark, tmp_path):
    """Dict-valued update: listed columns evaluate SQL over t/s,
    unlisted columns KEEP the target value."""
    target = str(tmp_path / "t")
    mt.merge_into(
        _state_df(spark, [(1, 10.0, "keepme"), (2, 20.0, "orig")]),
        target, ["id"], n_buckets=2,
    )
    src = _state_df(spark, [(1, 5.0, "ignored"), (2, 2.5, "ignored")])
    mt.merge_into(
        src, target, ["id"],
        when_matched_update={"amount": "t.amount + s.amount"},
        n_buckets=2,
    )
    state = {r["id"]: (r["amount"], r["note"])
             for r in mt.read_snapshot(spark, target).collect()}
    assert state == {1: (15.0, "keepme"), 2: (22.5, "orig")}


def test_merge_into_no_insert_and_no_update(spark, tmp_path):
    """when_matched_update=None + insert off = delete-only merge."""
    target = str(tmp_path / "t")
    mt.merge_into(
        _state_df(spark, [(1, 1.0, "x"), (2, 2.0, "y")]),
        target, ["id"], n_buckets=2,
    )
    src = _state_df(spark, [(1, 0.0, "z"), (7, 7.0, "z")])
    mt.merge_into(
        src, target, ["id"],
        when_matched_update=None,
        when_matched_delete="t.amount <= s.amount + 1.0",
        when_not_matched_insert=False,
        n_buckets=2,
    )
    state = {r["id"]: r["amount"] for r in mt.read_snapshot(spark, target).collect()}
    assert state == {2: 2.0}  # 1 deleted (1.0 <= 0.0+1.0), 7 not inserted


def test_merge_into_refuses_schema_drift_and_key_update(spark, tmp_path):
    target = str(tmp_path / "t")
    mt.merge_into(_state_df(spark, [(1, 1.0, "x")]), target, ["id"], n_buckets=2)
    bad = spark.createDataFrame([(2, 2, "y")], "id long, amount int, note string")
    with pytest.raises(TypeError, match="source schema"):
        mt.merge_into(bad, target, ["id"], n_buckets=2)
    with pytest.raises(ValueError, match="cannot be updated"):
        mt.merge_into(
            _state_df(spark, [(1, 1.0, "x")]), target, ["id"],
            when_matched_update={"id": "s.id + 1"}, n_buckets=2,
        )


def test_merge_into_interops_with_cdc_merge_and_stats(spark, tmp_path):
    """merge_into and merge_versioned share the commit tail: versions
    interleave, stats stay complete, read_where still prunes."""
    target = str(tmp_path / "t")
    mt.merge_into(
        _state_df(spark, [(i, float(i), "r") for i in range(1, 17)]),
        target, ["id"], n_buckets=4,
    )
    batch = _state_df(spark, [(1, 500.0, "cdc")]).select(
        "id", F.lit("u").alias("op"), F.lit(9).cast("long").alias("ts_ms"),
        F.struct("id", "amount", "note").alias("after"),
    )
    mt.merge_versioned(batch, target, ["id"], n_buckets=4)
    manifest = mt._read_manifest(spark, target, 2)
    live = {f for fl in manifest["buckets"].values() for f in fl}
    assert set(manifest["stats"]) == live
    got = {
        r["id"]
        for r in mt.read_where(spark, target, [("amount", ">=", 500.0)]).collect()
    }
    assert got == {1}


def test_zorder_compaction_prunes_both_dimensions(spark, tmp_path):
    """Morton-interleaved clustering vs lexicographic: on a 64x64 grid
    of independent (x, y), a y-band predicate prunes NOTHING under
    cluster_by=[x, y] (every file spans all of y) but keeps only the
    intersecting tiles under cluster_by=[interleave_bits(x, y)] — the
    multi-dimensional data-skipping claim, measured."""
    from end_end_data_pipeline__spark.functions import zorder

    rows = [(i, i % 64, (i // 64) % 64, "c", 1) for i in range(4096)]

    def build(path):
        df = spark.createDataFrame(
            rows, "id long, x long, y long, op string, ts_ms long"
        ).select(
            "id", "op", "ts_ms",
            F.when(F.col("op") != "d", F.struct("id", "x", "y")).alias("after"),
        )
        mt.merge_versioned(df, path, ["id"], n_buckets=1)

    lex, zed = str(tmp_path / "lex"), str(tmp_path / "zed")
    build(lex)
    build(zed)
    mt.compact(spark, lex, cluster_by=["x", "y"], max_records_per_file=256)
    mt.compact(
        spark, zed,
        cluster_by=[zorder.interleave_bits(F.col("x"), F.col("y"), bits=6)],
        max_records_per_file=256,
    )
    band = [("y", ">=", 8), ("y", "<=", 15)]
    m_lex = mt._read_manifest(spark, lex, 2)
    m_zed = mt._read_manifest(spark, zed, 2)
    n_lex_total = sum(len(fl) for fl in m_lex["buckets"].values())
    n_zed_total = sum(len(fl) for fl in m_zed["buckets"].values())
    kept_lex = len(mt.prune_files(m_lex, band))
    kept_zed = len(mt.prune_files(m_zed, band))
    # lexicographic: y spreads across every file -> no pruning at all
    assert kept_lex == n_lex_total
    # z-order: only the tiles intersecting the band survive
    assert kept_zed <= n_zed_total // 2, (kept_zed, n_zed_total)
    # and the pruned read is still exactly the filter
    expect = {i for i in range(4096) if 8 <= (i // 64) % 64 <= 15}
    got = {r["id"] for r in mt.read_where(spark, zed, band).collect()}
    assert got == expect
    # x-band pruning still works on the z layout too
    xband = [("x", ">=", 0), ("x", "<=", 7)]
    assert len(mt.prune_files(m_zed, xband)) <= n_zed_total // 2


# ------------------------------------------- history / as-of / constraints


def test_history_and_timestamp_time_travel(spark, tmp_path):
    """DESCRIBE HISTORY rows carry commit time + operation; as_of picks
    the newest version committed at-or-before the cutoff."""
    import time as _time

    target = str(tmp_path / "t")
    mt.merge_versioned(_batch(spark, [(1, 1.0, "c", 1)]), target, ["id"], n_buckets=2)
    t_between = _time.time()
    _time.sleep(0.05)
    mt.merge_versioned(_batch(spark, [(2, 2.0, "c", 2)]), target, ["id"], n_buckets=2)
    mt.compact(spark, target, max_files_per_bucket=0, cluster_by=["id"])

    h = {r["version"]: r for r in mt.history(spark, target).collect()}
    assert set(h) == {1, 2, 3}
    assert h[1]["operation"] == "merge_versioned"
    assert h[3]["operation"] == "compact"
    assert h[1]["committed_at"] <= h[2]["committed_at"] <= h[3]["committed_at"]
    assert all(r["n_files"] >= 1 for r in h.values())

    old = mt.read_snapshot(spark, target, as_of=t_between)
    assert {r["id"] for r in old.collect()} == {1}
    now = mt.read_snapshot(spark, target, as_of=_time.time())
    assert {r["id"] for r in now.collect()} == {1, 2}
    with pytest.raises(FileNotFoundError, match="at or before"):
        mt.read_snapshot(spark, target, as_of=0.0)
    with pytest.raises(ValueError, match="not both"):
        mt.read_snapshot(spark, target, version=1, as_of=t_between)


def test_check_constraints_enforced_on_merges(spark, tmp_path):
    """Delta-style CHECK constraints: registering validates existing
    state, every later merge (CDC and MERGE INTO alike) validates its
    post-merge state and refuses the whole commit on violation —
    NULLs count as violations."""
    target = str(tmp_path / "t")
    mt.merge_versioned(
        _batch(spark, [(1, 10.0, "c", 1), (2, 20.0, "c", 1)]),
        target, ["id"], n_buckets=2,
    )
    v = mt.set_check_constraint(spark, target, "amount_nonneg", "amount >= 0")
    assert v == 2
    assert mt.history(spark, target).filter(
        "operation = 'set_constraint:amount_nonneg'"
    ).count() == 1

    # violating CDC merge refused atomically — state unchanged
    with pytest.raises(ValueError, match="amount_nonneg"):
        mt.merge_versioned(
            _batch(spark, [(3, -5.0, "c", 3)]), target, ["id"], n_buckets=2
        )
    assert mt.list_versions(spark, target) == [1, 2]
    state = {r["id"]: r["amount"] for r in mt.read_snapshot(spark, target).collect()}
    assert state == {1: 10.0, 2: 20.0}

    # NULL amount is a violation too (strict constraints)
    null_batch = spark.createDataFrame(
        [(4, None, "c", 4)], "id long, amount double, op string, ts_ms long"
    ).select(
        "id", "op", "ts_ms",
        F.when(F.col("op") != "d", F.struct("id", "amount")).alias("after"),
    )
    with pytest.raises(ValueError, match="amount_nonneg"):
        mt.merge_versioned(null_batch, target, ["id"], n_buckets=2)

    # violating MERGE INTO refused too
    bad_src = spark.createDataFrame([(1, -1.0)], "id long, amount double")
    with pytest.raises(ValueError, match="amount_nonneg"):
        mt.merge_into(bad_src, target, ["id"], n_buckets=2)

    # compliant merges proceed and carry the constraint forward
    mt.merge_versioned(
        _batch(spark, [(3, 30.0, "c", 3)]), target, ["id"], n_buckets=2
    )
    with pytest.raises(ValueError, match="amount_nonneg"):
        mt.merge_versioned(
            _batch(spark, [(9, -9.0, "c", 9)]), target, ["id"], n_buckets=2
        )

    # registering a constraint the existing state violates is refused
    with pytest.raises(ValueError, match="existing state"):
        mt.set_check_constraint(spark, target, "tiny", "amount < 5")


# ----------------------------------------------------- bucket layout


def test_bucket_layout_pinned_and_rebucket(spark, tmp_path):
    """The bucket count is part of the committed layout: merges and
    lookups with a mismatching explicit count are refused (a silent
    mismatch would leave stale duplicate keys alive in other buckets),
    omitting it uses the table's, and rebucket() is the sanctioned
    layout change — content-identical, old snapshots intact."""
    target = str(tmp_path / "t")
    rows = [(i, float(i), "c", 1) for i in range(1, 33)]
    mt.merge_versioned(_batch(spark, rows), target, ["id"], n_buckets=8)

    # mismatching explicit count refused on every entry point
    with pytest.raises(ValueError, match="rebucket"):
        mt.merge_versioned(
            _batch(spark, [(1, 9.0, "u", 2)]), target, ["id"], n_buckets=4
        )
    with pytest.raises(ValueError, match="rebucket"):
        mt.read_keys(spark, target, ["id"], [(7,)], n_buckets=4)
    src = spark.createDataFrame([(1, 9.0)], "id long, amount double")
    with pytest.raises(ValueError, match="rebucket"):
        mt.merge_into(src, target, ["id"], n_buckets=4)

    # omitted count = the table's committed layout
    mt.merge_versioned(_batch(spark, [(1, 99.0, "u", 2)]), target, ["id"])
    got = {(r["id"], r["amount"])
           for r in mt.read_keys(spark, target, ["id"], [(1,)]).collect()}
    assert got == {(1, 99.0)}

    # rebucket: content-identical under the new layout
    v = mt.rebucket(spark, target, ["id"], 4)
    assert v == 3
    manifest = mt._read_manifest(spark, target, 3)
    assert manifest["n_buckets"] == 4
    assert len(manifest["buckets"]) <= 4
    state = {r["id"]: r["amount"] for r in mt.read_snapshot(spark, target).collect()}
    assert state == {**{i: float(i) for i in range(2, 33)}, 1: 99.0}
    # lookups and merges now run against the new layout by default
    got = {(r["id"], r["amount"])
           for r in mt.read_keys(spark, target, ["id"], [(7,)]).collect()}
    assert got == {(7, 7.0)}
    mt.merge_versioned(_batch(spark, [(40, 40.0, "c", 4)]), target, ["id"])
    assert mt.read_keys(spark, target, ["id"], [(40,)]).count() == 1
    # the old-layout snapshot still reads (bucket membership is
    # per-manifest, not directory-global)
    old = {r["id"]: r["amount"] for r in mt.read_snapshot(spark, target, 2).collect()}
    assert old == state


def test_table_changes_change_data_feed(spark, tmp_path):
    """CDF between versions: inserts/deletes/update image pairs only —
    unchanged rows in rewritten buckets are silent; compact produces an
    empty feed; new keys surface as inserts."""
    target = str(tmp_path / "t")
    mt.merge_versioned(
        _batch(spark, [(i, float(i), "c", 1) for i in range(1, 9)]),
        target, ["id"], n_buckets=2,
    )
    mt.merge_versioned(
        _batch(spark, [(2, 22.0, "u", 2), (3, None, "d", 2), (9, 90.0, "c", 2)]),
        target, ["id"],
    )
    feed = {
        (r["id"], r["_change_type"]): r["amount"]
        for r in mt.table_changes(spark, target, ["id"], 1, 2).collect()
    }
    assert feed == {
        (2, "update_preimage"): 2.0,
        (2, "update_postimage"): 22.0,
        (3, "delete"): 3.0,
        (9, "insert"): 90.0,
    }
    # compact (forced full rewrite): content-identical -> empty feed
    assert mt.compact(spark, target, cluster_by=["id"]) == 3
    assert mt.table_changes(spark, target, ["id"], 2, 3).count() == 0
    # full-range feed composes (v1 -> v3 sees the same net changes)
    net = {
        (r["id"], r["_change_type"])
        for r in mt.table_changes(spark, target, ["id"], 1, 3).collect()
    }
    assert (9, "insert") in net and (3, "delete") in net


def test_merge_into_refuses_duplicate_source_keys(spark, tmp_path):
    """A target row matching multiple source rows is row-order-
    dependent (Delta refuses it too) — caught live by the incremental
    mart demo where %21 keys sat in both the update and delete
    branches."""
    target = str(tmp_path / "t")
    mt.merge_into(_state_df(spark, [(1, 1.0, "x")]), target, ["id"], n_buckets=2)
    dup = _state_df(spark, [(1, 2.0, "a"), (1, 3.0, "b")])
    with pytest.raises(ValueError, match="duplicate keys"):
        mt.merge_into(dup, target, ["id"])


def test_null_count_stats_prune_isnull(spark, tmp_path):
    """Per-file null counts: an IS NULL predicate skips files with
    zero nulls for the column, IS NOT NULL skips all-null files, and
    the pruned reads equal the plain filters."""
    # bucket 0 only (single key-space per file via cluster_by split)
    rows = [(i, None if i <= 16 else float(i), "c", 1) for i in range(1, 65)]
    target = str(tmp_path / "t")
    df = spark.createDataFrame(
        rows, "id long, amount double, op string, ts_ms long"
    ).select(
        "id", "op", "ts_ms",
        F.when(F.col("op") != "d", F.struct("id", "amount")).alias("after"),
    )
    mt.merge_versioned(df, target, ["id"], n_buckets=1)
    # cluster by id so the null block (ids 1-16) concentrates in files
    mt.compact(spark, target, cluster_by=["id"], max_records_per_file=16)
    manifest = mt._read_manifest(spark, target, 2)
    total = sum(len(fl) for fl in manifest["buckets"].values())
    kept_null = mt.prune_files(manifest, [("amount", "isnull", None)])
    kept_notnull = mt.prune_files(manifest, [("amount", "notnull", None)])
    assert len(kept_null) < total            # most files have no nulls
    assert len(kept_notnull) < total         # the all-null file drops
    got_null = {r["id"] for r in
                mt.read_where(spark, target, [("amount", "isnull", None)]).collect()}
    assert got_null == set(range(1, 17))
    got_notnull = mt.read_where(spark, target, [("amount", "notnull", None)]).count()
    assert got_notnull == 64 - 16


def test_constraint_commit_preserves_bucket_layout(spark, tmp_path):
    """set_check_constraint's metadata commit must carry n_buckets —
    losing it would silently unpin the layout and let a default-count
    merge duplicate keys across buckets."""
    target = str(tmp_path / "t")
    mt.merge_versioned(
        _batch(spark, [(i, float(i), "c", 1) for i in range(1, 17)]),
        target, ["id"], n_buckets=8,
    )
    mt.set_check_constraint(spark, target, "amt", "amount >= 0")
    assert mt._read_manifest(spark, target, 2)["n_buckets"] == 8
    with pytest.raises(ValueError, match="rebucket"):
        mt.merge_versioned(
            _batch(spark, [(1, 2.0, "u", 2)]), target, ["id"], n_buckets=4
        )
    # omitted count still resolves to the pinned layout
    mt.merge_versioned(_batch(spark, [(1, 2.0, "u", 2)]), target, ["id"])
    got = {(r["id"], r["amount"])
           for r in mt.read_keys(spark, target, ["id"], [(1,)]).collect()}
    assert got == {(1, 2.0)}


def test_compact_after_schema_evolution(spark, tmp_path):
    """Compaction must union buckets whose files straddle an
    add-column evolution (pre-evolution buckets read back nulls)."""
    target = str(tmp_path / "t")
    mt.merge_versioned(
        _batch(spark, [(i, float(i), "c", 1) for i in range(1, 17)]),
        target, ["id"], n_buckets=4,
    )

    def batch_v2(rows):
        df = spark.createDataFrame(
            rows, "id long, amount double, status string, op string, ts_ms long"
        )
        return df.select(
            "id", "op", "ts_ms",
            F.when(F.col("op") != "d",
                   F.struct("id", "amount", "status")).alias("after"),
        )

    mt.merge_versioned(batch_v2([(1, 11.0, "A", "u", 2)]), target, ["id"])
    v = mt.compact(spark, target, cluster_by=["id"])  # forces ALL buckets
    assert v == 3
    state = {r["id"]: (r["amount"], r["status"])
             for r in mt.read_snapshot(spark, target).collect()}
    assert state[1] == (11.0, "A")
    assert state[2] == (2.0, None)
    assert len(state) == 16


def test_nan_stats_never_prune(spark, tmp_path):
    """A file whose max stat is NaN (Spark max ranks NaN above all)
    must stay conservative: read_where equals the plain
    snapshot+filter exactly — including Spark's NaN-ranks-highest
    comparison semantics (NaN >= 50.0 is TRUE), with no file pruned
    into silence."""
    nan = float("nan")
    rows = [(1, 5.0, "c", 1), (2, nan, "c", 1), (3, 100.0, "c", 1)]
    target = str(tmp_path / "t")
    mt.merge_versioned(_batch(spark, rows), target, ["id"], n_buckets=1)
    got = {r["id"] for r in
           mt.read_where(spark, target, [("amount", ">=", 50.0)]).collect()}
    plain = {r["id"] for r in
             mt.read_snapshot(spark, target)
             .filter(F.col("amount") >= 50.0).collect()}
    assert got == plain == {2, 3}  # NaN row kept by BOTH paths


def test_table_changes_missing_table_raises_cleanly(spark, tmp_path):
    with pytest.raises(FileNotFoundError, match="no committed manifest"):
        mt.table_changes(spark, str(tmp_path / "nope"), ["id"], 1)


# ---------------------------------------------------------------- DML


def _dml_table(spark, tmp_path, n=20):
    target = str(tmp_path / "dml")
    rows = [(i, float(i * 10), "c", 1) for i in range(1, n + 1)]
    mt.merge_versioned(_batch(spark, rows), target, ["id"], n_buckets=4)
    return target


def test_delete_where_removes_matching_rows(spark, tmp_path):
    target = _dml_table(spark, tmp_path)
    v = mt.delete_where(spark, target, [("amount", ">=", 150.0)])
    assert v == 2
    left = sorted(r["id"] for r in mt.read_snapshot(spark, target).collect())
    assert left == list(range(1, 15))
    # time travel still sees the pre-delete state
    assert mt.read_snapshot(spark, target, 1).count() == 20


def test_delete_where_noop_commits_nothing(spark, tmp_path):
    target = _dml_table(spark, tmp_path)
    v = mt.delete_where(spark, target, [("amount", ">", 1e9)])
    assert v == 1  # current version returned
    assert mt.list_versions(spark, target) == [1]  # NO new manifest


def test_delete_where_null_predicate_keeps_row(spark, tmp_path):
    target = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 10.0, "c", 1), (2, None, "c", 1), (3, 30.0, "c", 1)],
        "id long, amount double, op string, ts_ms long",
    ).select(
        "id", "op", "ts_ms",
        F.when(F.col("op") != "d", F.struct("id", "amount")).alias("after"),
    )
    mt.merge_versioned(df, target, ["id"], n_buckets=2)
    mt.delete_where(spark, target, [("amount", ">=", 20.0)])
    left = sorted(r["id"] for r in mt.read_snapshot(spark, target).collect())
    assert left == [1, 2]  # NULL amount row kept (SQL DELETE semantics)


def test_update_where_sets_and_preserves(spark, tmp_path):
    target = _dml_table(spark, tmp_path)
    v = mt.update_where(
        spark, target, [("id", "<=", 10)], {"amount": "amount + 1"}
    )
    assert v == 2
    got = {r["id"]: r["amount"] for r in mt.read_snapshot(spark, target).collect()}
    assert got[1] == 11.0 and got[10] == 101.0
    assert got[11] == 110.0 and got[20] == 200.0  # untouched rows intact


def test_update_where_refuses_key_and_unknown_columns(spark, tmp_path):
    target = _dml_table(spark, tmp_path)
    with pytest.raises(ValueError, match="key column"):
        mt.update_where(spark, target, [("id", "=", 1)], {"id": "id + 1"})
    with pytest.raises(ValueError, match="unknown column"):
        mt.update_where(spark, target, [("id", "=", 1)], {"nope": "1"})


def test_update_where_casts_to_committed_type(spark, tmp_path):
    target = _dml_table(spark, tmp_path)
    mt.update_where(spark, target, [("id", "=", 1)], {"amount": "42"})
    snap = mt.read_snapshot(spark, target)
    assert dict(snap.dtypes)["amount"] == "double"  # int expr cast back
    got = {r["id"]: r["amount"] for r in snap.collect()}
    assert got[1] == 42.0


def test_restore_rolls_back_and_survives_vacuum(spark, tmp_path):
    target = _dml_table(spark, tmp_path)                       # v1
    mt.update_where(spark, target, [("id", ">", 0)], {"amount": "0"})  # v2
    v3 = mt.restore(spark, target, 1)
    assert v3 == 3
    got = {r["id"]: r["amount"] for r in mt.read_snapshot(spark, target).collect()}
    assert got[5] == 50.0  # v1 content back
    ops = {r["version"]: r["operation"] for r in mt.history(spark, target).collect()}
    assert ops[3] == "restore:1"
    # vacuum keeps v2/v3 manifests; v3 references v1's files — readable
    mt.vacuum(spark, target, keep_last=2)
    assert mt.read_snapshot(spark, target).count() == 20
    # and the table still merges (key/bucket layout carried through)
    mt.merge_versioned(
        _batch(spark, [(99, 990.0, "c", 9)]), target, ["id"]
    )
    assert mt.read_snapshot(spark, target).count() == 21


def test_merge_refuses_key_cols_drift(spark, tmp_path):
    target = _dml_table(spark, tmp_path)
    with pytest.raises(ValueError, match="key_cols"):
        mt.merge_versioned(
            _batch(spark, [(1, 1.0, "u", 5)]).withColumnRenamed("id", "id2")
            .withColumn("id", F.col("id2")),
            target, ["id2"],
        )


def test_dml_skips_unmatched_buckets_by_stats(spark, tmp_path):
    """A point delete on a clustered table must carry untouched
    buckets' files BY REFERENCE (no rewrite)."""
    target = _dml_table(spark, tmp_path, n=40)
    before = mt._read_manifest(spark, target, 1)["buckets"]
    mt.delete_where(spark, target, [("id", "=", 7)])
    after = mt._read_manifest(spark, target, 2)["buckets"]
    carried = [b for b in after if after[b] == before.get(b)]
    rewritten = [b for b in after if after[b] != before.get(b)]
    assert rewritten  # something was rewritten
    total = mt.read_snapshot(spark, target).count()
    assert total == 39
    # every carried bucket's stats said "id=7 cannot be here"
    stats = mt._read_manifest(spark, target, 1)["stats"]
    for b in carried:
        for f in before[b]:
            assert not mt._file_matches(stats.get(f), "id", "=", 7)


def test_dml_retry_reapplies_on_commit_race(spark, tmp_path, monkeypatch):
    """A DELETE that loses its first commit race must re-derive against
    the NEW state and still apply correctly — the racing merge's row
    survives, the delete's targets are gone."""
    target = _dml_table(spark, tmp_path)
    real_commit = mt._commit_manifest
    raced = {"done": False}

    def race_once(spark_, target_, manifest):
        if not raced["done"]:
            raced["done"] = True
            # concurrent writer merges a NEW row (below the delete
            # threshold) and wins the version
            mt.merge_versioned(
                _batch(spark, [(99, 50.0, "c", 9)]), target, ["id"]
            )
        return real_commit(spark_, target_, manifest)

    monkeypatch.setattr(mt, "_commit_manifest", race_once)
    v = mt.dml_retry(
        mt.delete_where, spark, target, [("amount", ">=", 150.0)]
    )
    assert v == 3  # racer took v2, retry committed v3
    got = sorted(r["id"] for r in mt.read_snapshot(spark, target).collect())
    assert got == list(range(1, 15)) + [99]  # racer's row survived


def test_dml_retry_exhaustion_raises(spark, tmp_path, monkeypatch):
    target = _dml_table(spark, tmp_path)

    def always_lose(*a, **k):
        raise RuntimeError("lost the race (simulated)")

    monkeypatch.setattr(mt, "_commit_manifest", always_lose)
    with pytest.raises(RuntimeError, match="simulated"):
        mt.dml_retry(
            mt.delete_where, spark, target, [("id", "=", 1)], max_attempts=2
        )


# ------------------------------------------------ r07 review regressions


def test_update_where_set_exprs_read_pre_image(spark, tmp_path):
    """SQL UPDATE semantics: every SET expression evaluates against the
    PRE-update row.  The old chained-withColumn apply let a swap
    {"amount": "ts_copy", "ts_copy": "amount"} read the already-updated
    first column, leaving both equal."""
    target = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 10.0, 99.0, "c", 1)],
        "id long, amount double, other double, op string, ts_ms long",
    ).select(
        "id", "op", "ts_ms",
        F.when(F.col("op") != "d", F.struct("id", "amount", "other")).alias(
            "after"
        ),
    )
    mt.merge_versioned(df, target, ["id"], n_buckets=2)
    mt.update_where(
        spark, target, [("id", "=", 1)],
        {"amount": "other", "other": "amount"},
    )
    row = mt.read_snapshot(spark, target).collect()[0]
    assert (row["amount"], row["other"]) == (99.0, 10.0)  # a real swap


def test_merge_into_rejects_unknown_update_columns(spark, tmp_path):
    """A typo'd when_matched_update key must raise, not silently no-op."""
    import pytest as _pytest

    target = str(tmp_path / "t")
    mt.merge_into(
        _state_df(spark, [(1, 10.0, "a")]), target, ["id"], n_buckets=2
    )
    with _pytest.raises(ValueError, match="unknown update columns"):
        mt.merge_into(
            _state_df(spark, [(1, 11.0, "b")]), target, ["id"],
            when_matched_update={"amuont": "s.amount"},
        )


def test_vacuum_preserves_in_flight_writer_dirs(spark, tmp_path):
    """vacuum must not delete a version dir ABOVE the newest committed
    version: it belongs to an in-flight writer whose manifest rename
    hasn't landed — deleting it would let that commit succeed pointing
    at vanished files."""
    import os

    target = str(tmp_path / "t")
    for i in range(3):
        mt.merge_versioned(
            _batch(spark, [(1, float(i), "u" if i else "c", i + 1)]),
            target, ["id"], n_buckets=2,
        )
    # simulate an in-flight writer: staged data for v4, no manifest yet
    inflight = os.path.join(target, "data", "v4-deadbeef", "p_bucket=0")
    os.makedirs(inflight)
    with open(os.path.join(inflight, "part-0.parquet"), "w") as f:
        f.write("staged")
    # and a lost-race leftover BELOW the newest committed version
    lost = os.path.join(target, "data", "v2-cafebabe")
    os.makedirs(lost)
    mt.vacuum(spark, target, keep_last=1)
    assert os.path.exists(inflight)          # in-flight: preserved
    assert not os.path.exists(lost)          # lost race garbage: gone


def test_dml_datetime_predicates_match_read_where(spark, tmp_path):
    """DML predicates share read_where's _conjunct_pred builder, so a
    naive datetime means UTC wall time in BOTH pruning and the row
    filter — the old inline builder converted through the local
    calendar (a partially-applied TZ-dependent DELETE)."""
    import datetime as dt

    target = str(tmp_path / "t")
    epoch_2024 = 1704067200  # 2024-01-01 UTC
    df = (
        spark.range(1, 21)
        .select(
            F.col("id"),
            F.lit("c").alias("op"),
            F.lit(1).cast("long").alias("ts_ms"),
            F.timestamp_seconds(
                F.lit(epoch_2024) + F.col("id") * 86400
            ).alias("created"),
        )
        .select(
            "id", "op", "ts_ms",
            F.when(F.col("op") != "d", F.struct("id", "created")).alias("after"),
        )
    )
    mt.merge_versioned(df, target, ["id"], n_buckets=2)
    mt.delete_where(spark, target, [("created", "<", dt.datetime(2024, 1, 11))])
    left = {r["id"] for r in mt.read_snapshot(spark, target).collect()}
    assert left == set(range(10, 21))  # ids 1..9 (before Jan 11 UTC) gone


# ------------------------------------------------ manifest contract

MANIFEST_KEYS = {
    "version", "schema", "buckets", "stats", "committed_at", "operation",
    "constraints", "n_buckets", "key_cols", "deltas",
}


def test_manifest_contract_across_every_commit(spark, tmp_path):
    """Every version-producing operation commits the same manifest
    shape: exactly the ten keys, ``stats`` covering exactly the live
    base files, ``schema`` / ``constraints`` / ``key_cols`` carried
    over wherever the operation does not change them, and ``deltas``
    grown by a delta commit, carried by a metadata-only commit and
    folded (emptied) by every base-rewriting one."""
    target = str(tmp_path / "t")
    rows = [(i, float(i), "c", 1) for i in range(1, 17)]

    def mv(rows):
        return mt.merge_versioned(_batch(spark, rows), target, ["id"])

    assert mt.merge_versioned(_batch(spark, rows), target, ["id"], n_buckets=4) == 1
    assert mv([(5, 55.0, "u", 2), (50, 50.0, "c", 2)]) == 2
    src = spark.createDataFrame([(2, 22.0), (40, 40.0)], "id long, amount double")
    assert mt.merge_into(src, target, ["id"]) == 3
    assert mv([(6, 66.0, "u", 3)]) == 4
    assert mt.set_check_constraint(spark, target, "nonneg", "amount >= 0") == 5
    assert mt.delete_where(spark, target, [("amount", ">", 30.0)]) == 6
    assert mv([(30, 3.0, "c", 4)]) == 7
    assert mt.update_where(spark, target, [("id", "<=", 3)],
                           {"amount": "amount + 100"}) == 8
    assert mv([(4, 44.0, "u", 5)]) == 9
    assert mt.compact(spark, target, cluster_by=["amount"]) == 10
    assert mv([(31, 31.0, "c", 6)]) == 11
    assert mt.rebucket(spark, target, ["id"], 2) == 12
    assert mt.restore(spark, target, 9) == 13

    n = 13
    ms = {v: mt._read_manifest(spark, target, v) for v in range(1, n + 1)}
    for v, m in ms.items():
        assert set(m) == MANIFEST_KEYS, (v, sorted(m))
        assert m["version"] == v
        live = {f for fl in m["buckets"].values() for f in fl}
        assert set(m["stats"]) == live, v
        assert m["key_cols"] == ["id"], v
        assert m["schema"] == ms[1]["schema"], v
        assert isinstance(m["committed_at"], float), v
    assert [ms[v]["operation"] for v in range(1, n + 1)] == [
        "merge_versioned", "merge_versioned", "merge_into", "merge_versioned",
        "set_constraint:nonneg", "delete_where", "merge_versioned",
        "update_where", "merge_versioned", "compact", "merge_versioned",
        "rebucket:2", "restore:9",
    ]
    assert [len(ms[v]["deltas"]) for v in range(1, n + 1)] == [
        0, 1, 0, 1, 1, 0, 1, 0, 1, 0, 1, 0, 1]
    assert [ms[v]["committed_at"] for v in range(1, n + 1)] == sorted(
        ms[v]["committed_at"] for v in range(1, n + 1))
    nonneg = {"nonneg": "amount >= 0"}
    assert [ms[v]["constraints"] for v in range(1, n + 1)] == [{}] * 4 + [nonneg] * 9
    assert [ms[v]["n_buckets"] for v in range(1, n + 1)] == [4] * 11 + [2, 4]
    # a delta commit and a metadata-only commit re-reference the base
    for v, src_v in ((2, 1), (5, 4), (13, 9)):
        assert ms[v]["buckets"] == ms[src_v]["buckets"], v
        assert ms[v]["stats"] == ms[src_v]["stats"], v
    assert ms[5]["deltas"] == ms[4]["deltas"]
    assert ms[13]["deltas"] == ms[9]["deltas"]
    # the data-rewriting maintenance commits keep the content
    snap = lambda v: sorted(  # noqa: E731
        tuple(r) for r in mt.read_snapshot(spark, target, v).collect())
    assert snap(9) == snap(10) == snap(13)
    assert snap(11) == snap(12)
    assert snap(13) == sorted(
        [(1, 101.0), (2, 122.0), (3, 103.0), (4, 44.0), (30, 3.0)]
        + [(i, float(i)) for i in range(7, 17)]
    )


# ---------------------------------------------------- footer stats, jobs


def _scan_stats(spark, target, files):
    """Reference model for the manifest's per-file stats: one scan of
    ``files`` grouped by ``input_file_name()`` (the query commits ran
    before stats came from the footers).  Timestamp bounds leave the
    JVM as epoch micros, so the reference is TZ-immune too."""
    from pyspark.sql.types import TimestampType

    df = spark.read.parquet(*[f"{target}/{f}" for f in files]).drop(mt.BUCKET_COL)
    dtypes = {f.name: f.dataType for f in df.schema.fields}
    cols = [c for c, t in dtypes.items() if mt._stats_eligible(t)]

    def bound(c, fn):
        a = fn(c)
        return F.unix_micros(a) if isinstance(dtypes[c], TimestampType) else a

    aggs = [a for c in cols
            for a in (bound(c, F.min).alias(f"mn__{c}"), bound(c, F.max).alias(f"mx__{c}"))]
    aggs += [F.count(F.lit(1)).alias("rows__")]
    aggs += [F.count(F.when(F.col(c).isNull(), 1)).alias(f"nl__{c}") for c in dtypes]
    rows = df.groupBy(F.input_file_name().alias("__f")).agg(*aggs).collect()
    return {
        "data/" + "/".join(r["__f"].split("/")[-3:]): {
            **{c: [mt._enc_stat(r[f"mn__{c}"]), mt._enc_stat(r[f"mx__{c}"])] for c in cols},
            "__rows": r["rows__"],
            "__nulls": {c: r[f"nl__{c}"] for c in dtypes},
        }
        for r in rows
    }


def _nan_eq(v):
    """``v`` with every NaN replaced by a marker, so == compares it."""
    if isinstance(v, dict):
        return {k: _nan_eq(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_nan_eq(x) for x in v]
    return "NaN" if isinstance(v, float) and v != v else v


LONG_TXT = "~" * 5000  # over parquet-mr's 4 KiB footer-stats limit


def _all_types_frame(spark, ids):
    """One row per id over every stats-eligible type (NaN, -0.0 and
    nulls in the floating columns, non-ASCII strings, an all-null
    column in some files, a string column that holds an over-long
    value in some files — always its max) plus the ineligible boolean,
    decimal, binary and nested columns."""
    import datetime as dt
    from decimal import Decimal

    def row(i):
        ts = dt.datetime(2021, 3, 1, 12, 0) + dt.timedelta(hours=7 * i, microseconds=i)
        return (
            i, i % 100 - 50, i * 3 - 200, i * 1000, i * 10**12,
            None if i % 7 == 0 else float(i) / 4,
            [float("nan"), -0.0, None][i % 3] if i % 5 == 0 else i * 1.5 - 30,
            dt.date(2020, 1, 1) + dt.timedelta(days=13 * i),
            ts, ts,
            ["straße", "ünï", "日本語", None, "abc"][i % 5],
            None if i < 20 else i,
            i % 2 == 0, Decimal(i) / 8, bytes([i % 256, 200]),
            LONG_TXT if i % 11 == 0 else None if i % 13 == 0 else f"a{i % 7}",
            None if i % 4 == 0 else (i, None if i % 3 == 0 else "x"),
        )

    return spark.createDataFrame(
        [row(i) for i in ids],
        "id long, b byte, s short, n int, l long, f float, d double, dt date,"
        " ts timestamp, ntz timestamp_ntz, txt string, sparse long,"
        " flag boolean, dec decimal(10,3), bin binary, big string,"
        " nest struct<a: long, b: string>",
    )


def test_footer_stats_equal_scan_reference(spark, tmp_path):
    """The manifest's per-file stats, taken from the parquet footers
    the commit wrote, equal the scan reference for every file and key
    under a hostile session time zone — except the two things footers
    do not hold: the nested column's null count, and both stats of a
    string column in a file where it holds an over-long value."""
    hostile = spark.newSession()
    hostile.conf.set("spark.sql.session.timeZone", "Pacific/Kiritimati")
    target = str(tmp_path / "t")
    mt.merge_into(_all_types_frame(hostile, range(1, 41)), target, ["id"], n_buckets=4)
    mt.merge_into(_all_types_frame(hostile, range(30, 61)), target, ["id"])
    long_files = short_files = 0
    for v in (1, 2):
        m = mt._read_manifest(hostile, target, v)
        files = [f for fl in m["buckets"].values() for f in fl]
        assert len(files) >= 4
        want = _scan_stats(hostile, target, files)
        for st in want.values():
            del st["__nulls"]["nest"]
            if st["big"][1] == LONG_TXT:
                del st["big"], st["__nulls"]["big"]
                long_files += 1
            else:
                short_files += 1
        assert _nan_eq(m["stats"]) == _nan_eq(want), v
        for st in m["stats"].values():
            assert {"ts", "ntz", "dt", "txt", "f", "d"} <= set(st)
            assert not {"flag", "dec", "bin", "nest"} & set(st)
    assert long_files and short_files
    assert hostile.conf.get("spark.sql.parquet.outputTimestampType") == "INT96"


def test_int96_timestamp_file_gets_no_stats(spark, tmp_path, monkeypatch):
    """A file whose timestamp column is INT96 (Spark's default output
    type, written by older commits) has no footer min/max for it: the
    column gets no stats entry, the file is never pruned on it, and
    read_where still equals the plain snapshot filter."""
    import contextlib
    import datetime as dt

    import pyarrow.parquet as pq

    target = str(tmp_path / "t")
    monkeypatch.setattr(mt, "pinned_conf", lambda *a: contextlib.nullcontext())
    mt.merge_into(_all_types_frame(spark, range(1, 21)), target, ["id"], n_buckets=4)
    monkeypatch.undo()
    mt.merge_into(_all_types_frame(spark, [21]), target, ["id"])  # one bucket
    m = mt._read_manifest(spark, target, 2)
    old = [f for f in m["stats"] if f.startswith("data/v1-")]
    new = [f for f in m["stats"] if f.startswith("data/v2-")]
    assert old and new
    for f in old:
        col = pq.ParquetFile(f"{target}/{f}").schema.column(8)
        assert (col.name, col.physical_type) == ("ts", "INT96")
        assert "ts" not in m["stats"][f]
        assert "ntz" in m["stats"][f]
    assert all("ts" in m["stats"][f] for f in new)
    cut = dt.datetime(2021, 3, 5)
    for op in (">=", "<"):
        got = sorted(r["id"] for r in
                     mt.read_where(spark, target, [("ts", op, cut)]).collect())
        plain = sorted(
            r["id"] for r in mt.read_snapshot(spark, target)
            .filter(mt._conjunct_pred([("ts", op, cut)])).collect())
        assert got == plain and got, op


def test_relative_target_lists_where_hadoop_wrote(spark, tmp_path):
    """A scheme-less relative target resolves against the Hadoop FS's
    working dir, which is where Spark writes it; the footer pass, the
    manifest listing, read and write and the delta listing all open
    that same dir (not the Python process's cwd), so every commit keeps
    the files it wrote and the next one finds it."""
    fs, jvm = mt._fs(spark, str(tmp_path))
    old = fs.getWorkingDirectory()
    fs.setWorkingDirectory(mt._jpath(jvm, str(tmp_path)))
    try:
        mt.merge_versioned(
            _batch(spark, [(i, float(i), "c", 1) for i in range(40)]),
            "rel_t", ["id"], n_buckets=4,
        )
        m = mt._read_manifest(spark, "rel_t", 1)
        mt.merge_versioned(
            _batch(spark, [(3, None, "d", 2), (50, 5.0, "c", 2)]), "rel_t", ["id"]
        )
        versions = mt.list_versions(spark, "rel_t")
        m2 = mt._read_manifest(spark, "rel_t", 2)
        got = sorted(r["id"] for r in mt.read_snapshot(spark, "rel_t").collect())
    finally:
        fs.setWorkingDirectory(old)
    assert (tmp_path / "rel_t" / "manifest-v1.json").exists()
    assert len(m["buckets"]) == 4
    assert set(m["stats"]) == {f for fl in m["buckets"].values() for f in fl}
    assert versions == [1, 2]
    assert m2["buckets"] == m["buckets"]
    (entry,) = m2["deltas"]
    assert (tmp_path / "rel_t" / entry["file"]).exists()
    assert not list((tmp_path / "rel_t").glob("_tmp-manifest-*"))
    assert got == [i for i in range(40) if i != 3] + [50]


def test_list_versions_gateway_calls_do_not_grow_with_versions(
    spark, tmp_path, monkeypatch
):
    """Manifests are listed through pyarrow: a 40-version table costs
    list_versions the same py4j commands as a 2-version one (only the
    path's qualification crosses the gateway)."""
    target = tmp_path / "t"
    mt.merge_versioned(_batch(spark, [(1, 1.0, "c", 1)]), str(target), ["id"], n_buckets=2)
    mt.merge_versioned(_batch(spark, [(2, 2.0, "c", 2)]), str(target), ["id"])

    client = spark.sparkContext._gateway._gateway_client
    real = client.send_command

    def calls():
        sent = []

        def counting(*a, **k):
            sent.append(1)
            return real(*a, **k)

        with monkeypatch.context() as m:
            m.setattr(client, "send_command", counting)
            mt.list_versions(spark, str(target))
        return len(sent)

    two = calls()
    body = (target / "manifest-v2.json").read_text()
    for v in range(3, 41):
        (target / f"manifest-v{v}.json").write_text(body)
    assert mt.list_versions(spark, str(target)) == list(range(1, 41))
    assert calls() == two
    assert 0 < two <= 10


def test_large_manifest_round_trips_unchanged(spark, tmp_path):
    """A manifest far over the size that stalls a py4j reply is
    written and read back equal (a non-ASCII file name included), and
    a second commit of the same version still loses the race."""
    import json

    target = str(tmp_path / "t")
    os.makedirs(target)
    files = [f"data/v1-abcd1234/p_bucket={b}/part-{i:05d}-é.parquet"
             for b in range(64) for i in range(8)]
    manifest = {
        "version": 1, "schema": None, "operation": "merge_versioned",
        "buckets": {str(b): [f for f in files if f"={b}/" in f] for b in range(64)},
        "stats": {f: {"amount": [0.5, 99.25], "__rows": 400, "__nulls": {"amount": 0}}
                  for f in files},
        "deltas": [],
    }
    assert len(json.dumps(manifest)) > 64 * 1024
    mt._commit_manifest(spark, target, manifest)
    assert mt._read_manifest(spark, target, 1) == manifest
    assert mt.list_versions(spark, target) == [1]
    with pytest.raises(RuntimeError, match="lost the race"):
        mt._commit_manifest(spark, target, {**manifest, "operation": "other"})
    assert mt._read_manifest(spark, target, 1) == manifest
    assert not [f for f in os.listdir(target) if f.startswith("_tmp")]


def test_merge_versioned_commit_runs_at_most_three_jobs(spark, tmp_path):
    """A CDC merge onto an existing 64-bucket table commits a delta in
    exactly 1 job (the write: the one-partition batch needs no shuffle
    for its collapse) and writes exactly one data file; the fold, four
    deltas later, runs its bucket
    set (1 job) and the write (2 jobs) — no job reads the manifest,
    lists the touched buckets' files (more paths than Spark lists on
    the driver by default), infers a schema or scans the new files
    for stats."""
    target = str(tmp_path / "t")
    mt.merge_versioned(
        _batch(spark, [(i, float(i), "c", 1) for i in range(2000)]),
        target, ["id"], n_buckets=64,
    )
    sc = spark.sparkContext
    jsc = sc._jsc

    def jobs(group, fn):
        jsc.setLocalProperty("spark.jobGroup.id", group)
        try:
            fn()
        finally:
            jsc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs("mt-read-manifest", lambda: mt._read_manifest(spark, target, 1)) == 0
    delta = _batch(spark, [(i * 7, -1.0, "u", 2) for i in range(300)])
    assert jobs("mt-delta", lambda: mt.merge_versioned(delta, target, ["id"])) == 1
    m = mt._read_manifest(spark, target, 2)
    assert m["buckets"] == mt._read_manifest(spark, target, 1)["buckets"]
    (entry,) = m["deltas"]
    vdir = os.path.join(target, os.path.dirname(entry["file"]))
    assert [f for f in os.listdir(vdir) if f.endswith(".parquet")] == [
        os.path.basename(entry["file"])]
    assert len(entry["buckets"]) == 64
    for v in (3, 4, 5):
        mt.merge_versioned(_batch(spark, [(v, -float(v), "u", v)]), target, ["id"])
    fold = _batch(spark, [(i * 11, -2.0, "u", 6) for i in range(300)])
    assert jobs("mt-fold", lambda: mt.merge_versioned(fold, target, ["id"])) <= 3
    assert mt._read_manifest(spark, target, 6)["deltas"] == []
    got = {r["id"]: r["amount"] for r in mt.read_snapshot(spark, target).collect()}
    assert set(got) == (set(range(2000)) | {i * 7 for i in range(300)}
                        | {i * 11 for i in range(300)})
    assert got[7] == -1.0 and got[8] == 8.0 and got[3] == -3.0
    assert got[11] == got[77] == -2.0


def test_footer_stats_combine_row_groups_nan_highest():
    """Row-group bounds combine the way Spark orders doubles: NaN
    ranks above every value, whichever row group holds it."""
    from types import SimpleNamespace as NS

    from pyspark.sql.types import DoubleType, StructField, StructType

    nan = float("nan")

    def footer(*bounds):
        col = NS(path="d", name="d", physical_type="DOUBLE", logical_type=None)
        groups = [
            NS(column=lambda i, lo=lo, hi=hi: NS(statistics=NS(
                has_min_max=True, min=lo, max=hi, has_null_count=True,
                null_count=0, num_values=2)))
            for lo, hi in bounds
        ]
        return NS(num_columns=1, schema=NS(column=lambda i: col),
                  num_row_groups=len(groups), row_group=lambda r: groups[r],
                  num_rows=2 * len(groups))

    schema = StructType([StructField("d", DoubleType())])
    for bounds in ([(1.0, nan), (0.5, 5.0)], [(0.5, 5.0), (1.0, nan)]):
        st = mt._footer_stats(footer(*bounds), schema)
        assert st["d"][0] == 0.5 and st["d"][1] != st["d"][1], bounds
        assert st["__rows"] == 4 and st["__nulls"] == {"d": 0}
    st = mt._footer_stats(footer((nan, nan), (2.0, 3.0)), schema)
    assert st["d"][0] == 2.0 and st["d"][1] != st["d"][1]


# ------------------------------------------------------- merge-on-read


def test_vacuum_between_delta_commits_keeps_latest_readable(spark, tmp_path):
    """vacuum counts the kept manifests' delta files as live: vacuuming
    down to the newest version between delta commits leaves it (and
    every later delta commit and the fold) reading the model state."""
    target = str(tmp_path / "t")
    model = {i: float(i) for i in range(1, 9)}
    mt.merge_versioned(
        _batch(spark, [(i, a, "c", 1) for i, a in model.items()]), target, ["id"],
        n_buckets=4,
    )
    snap = lambda: {  # noqa: E731
        r["id"]: r["amount"] for r in mt.read_snapshot(spark, target).collect()}
    pending = []
    for ts in range(2, 8):  # four delta commits, the fold, a delta commit
        k = ts % 4 + 1
        if ts % 3:
            model[k] = 10.0 * ts
            mt.merge_versioned(_batch(spark, [(k, 10.0 * ts, "u", ts)]), target, ["id"])
        else:
            model.pop(k, None)
            mt.merge_versioned(_batch(spark, [(k, None, "d", ts)]), target, ["id"])
        m = mt._read_manifest(spark, target, ts)
        pending.append(len(m["deltas"]))
        assert mt.vacuum(spark, target, keep_last=1) == [ts - 1]
        kept = set(os.listdir(os.path.join(target, "data")))
        assert {d["file"].split("/")[1] for d in m["deltas"]} <= kept
        assert snap() == model, ts
    assert pending == [1, 2, 3, 4, 0, 1]


def _evolving_batch(spark, rows, with_note):
    """rows: (id, amount, note, op, ts_ms) → decode-shaped change frame,
    with ``note`` in the after-image only when ``with_note``."""
    df = spark.createDataFrame(
        rows, "id long, amount double, note string, op string, ts_ms long")
    cols = ["id", "amount", "note"] if with_note else ["id", "amount"]
    return df.select(
        "id", "op", "ts_ms",
        F.when(F.col("op") != "d", F.struct(*cols)).alias("after"),
    )


def test_merge_on_read_matches_latest_state_model(spark, tmp_path):
    """Random merges (inserts, updates, deletes, in-batch and replayed
    redeliveries, one add-column batch) interleaved with every other
    writer, crossing merge_versioned folds and folds by the other
    operations.  At every version, read_snapshot, read_keys (with a key
    whose bucket has no base file until a fold), read_where and
    table_changes(v-1, v) equal a Python latest-state model: within a
    batch the newest ts_ms wins (ties d > u > c), and a later commit
    wins over committed state."""
    import random

    rng = random.Random(20261019)
    target = str(tmp_path / "t")
    nb = 8
    bucket = {r["id"]: r["b"] for r in spark.range(1, 300).select(
        "id", F.pmod(F.xxhash64("id"), F.lit(nb)).alias("b")).collect()}
    lonely = min(k for k, b in bucket.items() if b == nb - 1)
    pool = [k for k, b in bucket.items() if b != nb - 1][:40]
    rank = {"c": 1, "u": 2, "d": 3}
    models = {}  # version -> ({id: (amount, note)}, has_note)
    state, has_note, ts, batches = {}, False, 0, []

    def apply(events):
        win = {}
        for e in events:
            if e[0] not in win or (e[4], rank[e[3]]) > (win[e[0]][4], rank[win[e[0]][3]]):
                win[e[0]] = e
        for k, (_, amount, note, op, _) in win.items():
            if op == "d":
                state.pop(k, None)
            else:
                state[k] = (amount, note if has_note else None)

    def random_events(keys):
        nonlocal ts
        out = []
        for k in keys:
            ts += 1
            op = "d" if rng.random() < 0.25 else ("u" if k in state else "c")
            amount = None if op == "d" else float(rng.randint(0, 500))
            out.append((k, amount, f"n{ts}" if has_note else None, op, ts))
            if rng.random() < 0.2:  # in-batch redelivery of the same event
                out.append(out[-1])
        return out

    def mv(events, note=None):
        nonlocal has_note
        has_note = has_note if note is None else note
        apply(events)
        batches.append(events)
        return mt.merge_versioned(
            _evolving_batch(spark, events, has_note), target, ["id"], n_buckets=nb)

    def rows_of(df):
        return {r["id"]: (r["amount"], r.asDict().get("note")) for r in df.collect()}

    def check(v):
        models[v] = (dict(state), has_note)
        assert mt.list_versions(spark, target)[-1] == v
        assert rows_of(mt.read_snapshot(spark, target, v)) == state, v
        probe = sorted(rng.sample(pool, 4) + [lonely, 299])
        got = rows_of(mt.read_keys(spark, target, ["id"], [(k,) for k in probe], version=v))
        assert got == {k: state[k] for k in probe if k in state}, v
        cut = float(rng.randint(100, 400))
        got = rows_of(mt.read_where(spark, target, [("amount", ">=", cut)], version=v))
        assert got == {k: r for k, r in state.items() if r[0] >= cut}, v
        if v - 1 in models:
            old = models[v - 1][0]
            want = {(k, "insert") + state[k] for k in set(state) - set(old)}
            want |= {(k, "delete") + old[k] for k in set(old) - set(state)}
            for k in set(old) & set(state):
                if old[k] != state[k]:
                    want |= {(k, "update_preimage") + old[k],
                             (k, "update_postimage") + state[k]}
            feed = mt.table_changes(spark, target, ["id"], v - 1, v).collect()
            got = {(r["id"], r["_change_type"], r["amount"], r.asDict().get("note"))
                   for r in feed}
            assert got == want and len(feed) == len(want), v

    check(mv(random_events(pool[:24])))
    check(mv(random_events([lonely] + rng.sample(pool, 6))))  # lonely: delta only
    for _ in range(3):
        check(mv(random_events(rng.sample(pool, 8))))
    assert len(mt._read_manifest(spark, target, 5)["deltas"]) == 4
    check(mv(random_events(rng.sample(pool, 8))))  # the merge_versioned fold
    assert mt._read_manifest(spark, target, 6)["deltas"] == []
    check(mv(random_events(rng.sample(pool, 6) + [lonely]), note=True))  # add-column
    check(mv(batches[-1]))  # the same batch redelivered: a content no-op
    check(mv(batches[-5]))  # an older batch redelivered: its changes win again
    v = mt.delete_where(spark, target, [("amount", ">=", 450.0)])
    for k in [k for k, r in state.items() if r[0] >= 450.0]:
        del state[k]
    check(v)
    check(mv(random_events(rng.sample(pool, 6))))
    v = mt.update_where(spark, target, [("id", "<=", 60)], {"amount": "amount + 1"})
    state.update({k: (r[0] + 1, r[1]) for k, r in state.items() if k <= 60})
    check(v)
    check(mv(random_events(rng.sample(pool, 6))))
    src = [(k, float(rng.randint(0, 500)), "mi") for k in rng.sample(pool, 5)]
    v = mt.merge_into(spark.createDataFrame(src, "id long, amount double, note string"),
                      target, ["id"])
    state.update({k: (a, n) for k, a, n in src})
    check(v)
    check(mv(random_events(rng.sample(pool, 6))))
    check(mt.compact(spark, target))
    check(mv(random_events(rng.sample(pool, 6))))
    mt.vacuum(spark, target, keep_last=3)
    back = mt.list_versions(spark, target)[-2]
    v = mt.restore(spark, target, back)
    state, has_note = dict(models[back][0]), models[back][1]
    check(v)
    check(mv(random_events(rng.sample(pool, 6) + [lonely])))


def test_sql_text_expressions_quote_column_names(spark, tmp_path):
    """Key and version columns whose names need backticks (a space, a
    reserved word, an embedded backtick) give the model's answer
    through latest_change_per_key, every merge_versioned path (new
    table, delta, fold) and read_keys; so does a value column with a
    backtick in its name."""
    from pyspark.sql.types import (
        DoubleType, IntegerType, LongType, StringType, StructField, StructType)

    keys, ver = ["acct id", "order"], "ver`sion"
    image = StructType([StructField("acct id", LongType()),
                        StructField("order", IntegerType()),
                        StructField("amount", DoubleType()),
                        StructField("x`y", StringType())])
    schema = StructType([StructField("acct id", LongType()),
                         StructField("order", IntegerType()),
                         StructField("op", StringType()),
                         StructField(ver, LongType()),
                         StructField("after", image)])
    rank = {"c": 1, "u": 2, "d": 3}

    def frame(events):
        return spark.createDataFrame(
            [(a, o, op, v, None if op == "d" else (a, o, amt, f"{amt}`"))
             for a, o, op, v, amt in events], schema)

    def winners(events):
        win = {}
        for e in events:
            k = e[:2]
            if k not in win or (e[3], rank[e[2]]) > (win[k][3], rank[win[k][2]]):
                win[k] = e
        return win

    first = [(a, a % 3, "c", 10 - a, float(a)) for a in range(12)]
    first += [(2, 2, "u", 8, 20.0), (2, 2, "d", 8, None),  # same version: d wins
              (5, 2, "u", 1, 50.0), (7, 1, "u", 9, 70.0)]  # 5: older, loses
    got = {(r["acct id"], r["order"]): (r["op"], r[ver])
           for r in cdc.latest_change_per_key(frame(first), keys, ver).collect()}
    assert got == {k: (e[2], e[3]) for k, e in winners(first).items()}

    target = str(tmp_path / "t")
    state: dict = {}
    batches = [first] + [
        [((n * 5 + i) % 15, (n * 5 + i) % 15 % 3, "d" if i == 4 else "u", n, float(n * 100 + i))
         for i in range(5)]
        for n in range(1, 6)
    ]
    for n, events in enumerate(batches, start=1):
        for k, e in winners(events).items():
            if e[2] == "d":
                state.pop(k, None)
            else:
                state[k] = e[4]
        assert mt.merge_versioned(frame(events), target, keys, ver, n_buckets=4) == n
        snap = {(r["acct id"], r["order"]): r["amount"]
                for r in mt.read_snapshot(spark, target).collect()
                if r["x`y"] == f"{r['amount']}`"}
        assert snap == state, n
        probe = [(a, a % 3) for a in range(0, 16, 3)]
        got = {(r["acct id"], r["order"]): r["amount"]
               for r in mt.read_keys(spark, target, keys, probe).collect()}
        assert got == {k: state[k] for k in probe if k in state}, n
    deltas = [len(mt._read_manifest(spark, target, v)["deltas"]) for v in range(1, 7)]
    assert deltas == [0, 1, 2, 3, 4, 0]


def test_merge_into_and_table_changes_quote_column_names(spark, tmp_path):
    """merge_into (new table, then update/delete/insert clauses) and
    table_changes take key and value columns whose names need
    backticks, and match a dict model."""
    from pyspark.sql.types import (
        DoubleType, IntegerType, LongType, StringType, StructField, StructType)

    keys = ["acct id", "order"]
    schema = StructType([StructField("acct id", LongType()),
                         StructField("order", IntegerType()),
                         StructField("amount", DoubleType()),
                         StructField("x`y", StringType())])

    def frame(rows):
        return spark.createDataFrame(
            [(a, a % 3, amt, f"{a}`") for a, amt in rows], schema)

    def snapshot(version):
        return {(r["acct id"], r["order"]): (r["amount"], r["x`y"])
                for r in mt.read_snapshot(spark, target, version).collect()}

    target = str(tmp_path / "t")
    v1 = {(a, a % 3): (float(a), f"{a}`") for a in range(10)}
    assert mt.merge_into(frame([(a, float(a)) for a in range(10)]), target,
                         keys, n_buckets=4) == 1
    assert snapshot(1) == v1

    # 0-2 updated, 3 deleted (negative amount), 10-11 inserted, rest kept
    src = [(0, 5.0), (1, 5.0), (2, 5.0), (3, -1.0), (10, 10.0), (11, 11.0)]
    assert mt.merge_into(
        frame(src), target, keys,
        when_matched_update={"amount": "t.amount + s.amount",
                             "x`y": "concat(t.`x``y`, s.`x``y`)"},
        when_matched_delete="s.amount < 0",
    ) == 2
    v2 = dict(v1)
    for a, amt in src:
        k = (a, a % 3)
        if k not in v1:
            v2[k] = (amt, f"{a}`")
        elif amt < 0:
            del v2[k]
        else:
            v2[k] = (v1[k][0] + amt, f"{a}`{a}`")
    assert snapshot(2) == v2

    want = set()
    for k in v1.keys() | v2.keys():
        if k not in v2:
            want.add((k, v1[k], "delete"))
        elif k not in v1:
            want.add((k, v2[k], "insert"))
        elif v1[k] != v2[k]:
            want |= {(k, v1[k], "update_preimage"),
                     (k, v2[k], "update_postimage")}
    got = [((r["acct id"], r["order"]), (r["amount"], r["x`y"]),
            r["_change_type"])
           for r in mt.table_changes(spark, target, keys, 1, 2).collect()]
    assert sorted(got) == sorted(want)
