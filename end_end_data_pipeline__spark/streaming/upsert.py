"""ST5/ST6: checkpointed CDC streams into a table — the engine's
flagship custom streaming operator (SURVEY.md §7 step 4).

The reference is append-only with at-least-once delivery: replays and
updates become duplicate lake rows, deletes are lost, and a crash
between upload and offset auto-commit re-emits whole batches
(reference ``consumer/consumer.py:21,41-51,66-75``).  Here a JSONL
directory of Debezium envelopes (the test/replay stand-in for Kafka
topics; ``sources.connectors.open_kafka_cdc_stream`` is the Kafka
wiring) decodes through ``sources.cdc`` and each micro-batch lands in
one of two sinks:

- the manifest-committed lake table
  (:func:`stream_cdc_file_source_versioned`): one atomic table version
  per micro-batch through ``sources.manifest_table.merge_versioned``;
- a live JDBC (OLTP) table (:func:`stream_cdc_file_source_jdbc`): one
  database transaction per micro-batch with a batch-id ledger.

The checkpoint gives exactly-once-per-sink on top of a replayed
source (ST6/ST8): both sinks are idempotent, so re-applying a batch
yields the same state.
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from end_end_data_pipeline__spark.sources import cdc


def _stream_cdc_batches(
    spark: SparkSession,
    source_dir: str,
    row_schema: T.StructType,
    key_cols: list[str],
    checkpoint_dir: str,
    max_files_per_trigger: int,
    apply: Callable[[DataFrame, int], None],
) -> "object":
    """JSONL CDC directory → ``cdc.decode`` → checkpointed
    ``foreachBatch(apply)``, run to the end of the available files
    (``availableNow``).  Returns the started StreamingQuery."""
    raw = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(source_dir)
    )
    changes = cdc.decode(cdc.parse_envelope(raw, row_schema), key_cols)
    return (
        changes.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_cdc_file_source_versioned(
    spark: SparkSession,
    source_dir: str,
    row_schema: T.StructType,
    key_cols: list[str],
    target_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 10,
    n_buckets: int = 64,
) -> "object":
    """CDC stream into the manifest-committed table
    (``sources.manifest_table``): each micro-batch commits one atomic
    table version.  Crash semantics compose with the checkpoint: crash
    before the manifest rename → no version, the replayed batch commits
    it; crash after the rename but before the checkpoint advances → the
    replay commits one more version with identical content (converges;
    versions are cheap — vacuum reclaims)."""
    from end_end_data_pipeline__spark.sources import manifest_table as mt

    def _apply(batch: DataFrame, epoch_id: int) -> None:
        mt.merge_versioned(batch, target_path, key_cols, n_buckets=n_buckets)

    return _stream_cdc_batches(
        spark, source_dir, row_schema, key_cols, checkpoint_dir,
        max_files_per_trigger, _apply,
    )


# ---------------------------------------------------------------------------
# Live JDBC (OLTP) sink — the reverse of the reference's architecture
# ---------------------------------------------------------------------------


_SQL_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _check_ident(name: str) -> str:
    """Table/column names are interpolated into driver-side SQL — only
    plain identifiers are accepted (defense against a corrupt config
    smuggling SQL through a 'table name')."""
    if not _SQL_IDENT.match(name):
        raise ValueError(f"not a plain SQL identifier: {name!r}")
    return name


def _jdbc_conn(spark: SparkSession, url: str, driver: str):
    spark._jvm.java.lang.Class.forName(driver)
    return spark._jvm.java.sql.DriverManager.getConnection(url)


def _exec_sql(conn, sql: str) -> None:
    st = conn.createStatement()
    try:
        st.execute(sql)
    finally:
        st.close()


def _ensure_ledger(conn, ledger: str) -> None:
    try:
        _exec_sql(conn, f'CREATE TABLE {ledger} ("batch_id" BIGINT PRIMARY KEY)')
    except Exception as e:  # Derby X0Y32: table already exists
        if "X0Y32" not in str(e) and "already exists" not in str(e):
            raise


def _batch_committed(conn, ledger: str, batch_id: int) -> bool:
    st = conn.createStatement()
    try:
        rs = st.executeQuery(
            f'SELECT COUNT(*) FROM {ledger} WHERE "batch_id" = {int(batch_id)}'
        )
        rs.next()
        return rs.getInt(1) > 0
    finally:
        st.close()


def jdbc_upsert_batch(
    batch: DataFrame,
    batch_id: int,
    url: str,
    table: str,
    key_cols: list[str],
    driver: str = "org.apache.derby.jdbc.EmbeddedDriver",
    version_col: str = "ts_ms",
) -> bool:
    """Transactionally upsert ONE micro-batch of decoded CDC changes
    into a live JDBC table; returns False when ``batch_id`` was already
    committed (checkpoint replay after a post-commit crash — skipped,
    the exactly-once half foreachBatch itself doesn't give you).

    Protocol (the standard idempotent-foreachBatch recipe, made
    concrete): collapse the batch latest-wins per key (keeping final
    deletes), stage upserts and delete-keys into JDBC staging tables
    (plain overwrite — idempotent, outside the transaction), then in
    ONE database transaction: SQL ``MERGE`` the upsert stage into the
    target, delete the tombstoned keys, and record ``batch_id`` in the
    ledger.  A crash anywhere inside the transaction rolls back whole;
    a crash after commit is caught by the ledger on replay.  Staging
    rides Spark's parallel JDBC writer, so the only driver-side SQL is
    three constant-size statements — no per-row round-trips.

    This is the reference's own topology reversed (its generator
    writes OLTP rows that Debezium streams out; here the stream lands
    back in an OLTP table transactionally — the serving-database sink
    its stack never had).  Identifier casing: table names are passed
    unquoted (DB-normalized), column names quoted exactly as Spark's
    JDBC writer created them."""
    spark = batch.sparkSession
    _check_ident(table)
    for k in key_cols:
        _check_ident(k)
    ledger = f"{table}_commits"
    conn = _jdbc_conn(spark, url, driver)
    try:
        _ensure_ledger(conn, ledger)
        if _batch_committed(conn, ledger, batch_id):
            return False
    finally:
        conn.close()

    # the latest-wins collapse is cdc.latest_change_per_key — ONE home
    # for the d>u>c tie-break so the JDBC sink and the lake sink can
    # never resolve the same batch to different states
    latest = cdc.latest_change_per_key(batch, key_cols, version_col)
    ups = latest.filter(F.col("op") != "d").select("after.*")
    dels = latest.filter(F.col("op") == "d").select(*key_cols)
    stage_u, stage_d = f"{table}_stage_u", f"{table}_stage_d"
    for df, stage in ((ups, stage_u), (dels, stage_d)):
        (
            df.write.format("jdbc")
            .option("url", url)
            .option("dbtable", stage)
            .option("driver", driver)
            .mode("overwrite")
            .save()
        )
    # create the target on first contact (no-op when it exists)
    (
        ups.limit(0)
        .write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("driver", driver)
        .mode("ignore")
        .save()
    )

    cols = [_check_ident(c) for c in ups.columns]
    non_keys = [c for c in cols if c not in key_cols]
    on = " AND ".join(f't."{k}" = s."{k}"' for k in key_cols)
    set_sql = ", ".join(f'"{c}" = s."{c}"' for c in non_keys)
    ins_cols = ", ".join(f'"{c}"' for c in cols)
    ins_vals = ", ".join(f's."{c}"' for c in cols)
    del_on = " AND ".join(f'{table}."{k}" = d."{k}"' for k in key_cols)
    # a keys-only table has nothing to UPDATE — matched rows are
    # already correct, so the clause is omitted (empty SET is a
    # syntax error)
    matched_sql = (
        f"WHEN MATCHED THEN UPDATE SET {set_sql} " if non_keys else ""
    )

    conn = _jdbc_conn(spark, url, driver)
    try:
        conn.setAutoCommit(False)
        _exec_sql(
            conn,
            f"MERGE INTO {table} t USING {stage_u} s ON {on} "
            f"{matched_sql}"
            f"WHEN NOT MATCHED THEN INSERT ({ins_cols}) VALUES ({ins_vals})",
        )
        _exec_sql(
            conn,
            f"DELETE FROM {table} WHERE EXISTS "
            f"(SELECT 1 FROM {stage_d} d WHERE {del_on})",
        )
        _exec_sql(
            conn, f"INSERT INTO {ledger} VALUES ({int(batch_id)})"
        )
        conn.commit()
    except Exception:
        conn.rollback()
        raise
    finally:
        conn.close()
    return True


def stream_cdc_file_source_jdbc(
    spark: SparkSession,
    source_dir: str,
    row_schema: T.StructType,
    key_cols: list[str],
    url: str,
    table: str,
    checkpoint_dir: str,
    driver: str = "org.apache.derby.jdbc.EmbeddedDriver",
    max_files_per_trigger: int = 10,
) -> "object":
    """CDC stream into a LIVE JDBC (OLTP) table: each micro-batch lands
    as one database transaction via :func:`jdbc_upsert_batch`; the
    batch-id ledger makes checkpoint replays no-ops, so content is
    exactly-once end to end."""

    def _apply(batch: DataFrame, epoch_id: int) -> None:
        jdbc_upsert_batch(batch, epoch_id, url, table, key_cols, driver)

    return _stream_cdc_batches(
        spark, source_dir, row_schema, key_cols, checkpoint_dir,
        max_files_per_trigger, _apply,
    )
