"""CDC + streaming catalog (SURVEY.md §2.9, §2.2 P1-P3).

Three flavors:
- batch-checkable CDC semantics (JSON envelope roundtrip → latest-wins
  apply) with exact SQL oracles;
- event-time windowing (tumbling / sliding / session) in batch mode —
  same operators Structured Streaming uses, oracle-checkable;
- true Structured Streaming runs (file source → memory sink) proving
  the streaming wiring.  Every entry, the upsert pipeline included,
  carries a DuckDB oracle (``catalog.register`` refuses one without).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from end_end_data_pipeline__spark.functions.scalar import dec_sum
from end_end_data_pipeline__spark.operators import sketches
from end_end_data_pipeline__spark.plans.catalog import register
from end_end_data_pipeline__spark.plans.sqlgen import dsum
from end_end_data_pipeline__spark.session import bounded_stream_shuffle
from end_end_data_pipeline__spark.sources import cdc, datagen, lake


@register(
    "cdc_roundtrip_latest_state",
    oracle="""
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 100.0
                    ELSE o_totalprice END AS o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders
        WHERE o_orderkey % 7 <> 0
    """,
    survey_ids=("P1", "P2", "ST5", "F10", "U4"),
    bench=True,
)
def cdc_roundtrip_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CDC path in batch: orders become a change log (insert for
    every row, update (+100) for key%3==0, delete for key%7==0),
    serialized to Debezium-shaped JSON envelopes, then parsed
    (``from_json``), tombstone-filtered, and collapsed latest-wins —
    the reference's pipeline with the merge it never had
    (reference ``consumer/consumer.py:66-75`` is append-only).
    The oracle states the expected final table directly.

    r12: the change log is synthesized in ONE scan — each order row
    explodes to its (op, ts_ms) legs (insert always, update when
    key%3==0, delete when key%7==0) instead of a union of three
    filtered scans of the fact table (guide §1.2 step 1: don't pay
    three passes for one pass's information).  Leg rows, including the
    update leg's +100 price, are value-identical to the union form
    (A/B exceptAll-verified), so the envelope wire bytes and the final
    state are unchanged."""
    orders = lake.load_table(spark, "orders", sf_dir)

    legs = F.filter(
        F.array(
            F.struct(F.lit("c").alias("op"), F.lit(1).cast("long").alias("ts_ms")),
            F.when(
                F.col("o_orderkey") % 3 == 0,
                F.struct(F.lit("u").alias("op"), F.lit(2).cast("long").alias("ts_ms")),
            ),
            F.when(
                F.col("o_orderkey") % 7 == 0,
                F.struct(F.lit("d").alias("op"), F.lit(3).cast("long").alias("ts_ms")),
            ),
        ),
        lambda x: x.isNotNull(),
    )
    changes_raw = orders.select("*", F.explode(legs).alias("__l")).select(
        *[
            F.when(F.col("__l.op") == "u", F.col("o_totalprice") + 100.0)
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice")
            if c == "o_totalprice"
            else F.col(c)
            for c in orders.columns
        ],
        F.col("__l.op").alias("op"),
        F.col("__l.ts_ms").alias("ts_ms"),
    )

    wire = cdc.encode_envelope(changes_raw, "op", "ts_ms", "orders")
    parsed = cdc.parse_envelope(wire, orders.schema)
    changes = cdc.decode(parsed, ["o_orderkey"])
    return cdc.apply_latest_state(changes, ["o_orderkey"])


@register(
    "versioned_merge_time_travel",
    oracle="""
        SELECT 1 AS version, o_orderkey,
               CAST(o_totalprice AS DOUBLE) AS o_totalprice
        FROM orders WHERE o_orderkey <= 100
        UNION ALL
        SELECT 2, o_orderkey,
               CASE WHEN o_orderkey % 3 = 0
                    THEN CAST(o_totalprice AS DOUBLE) + 100.0
                    ELSE CAST(o_totalprice AS DOUBLE) END
        FROM orders WHERE o_orderkey <= 100 AND o_orderkey % 7 <> 0
    """,
    survey_ids=("ST5", "ST6", "S5"),
    bench=True,
)
def versioned_merge_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transactional table format in action (the piece plain parquet
    lacks): two change batches merge through the manifest-committed
    table (``sources.manifest_table`` — atomic manifest-rename commits,
    immutable data files), then BOTH snapshots are read back by version
    — time travel — and hash-checked against the oracle's statement of
    each state.  Version 1: the first 100 orders as inserts; version 2:
    +100 on every key%3==0, deletes of key%7==0."""
    from end_end_data_pipeline__spark.sources import manifest_table as mt

    target = tempfile.mkdtemp(prefix="mct_") + "/t"
    orders = lake.load_table(spark, "orders", sf_dir).filter(
        F.col("o_orderkey") <= 100
    )

    def to_batch(df, op, ts):
        after = (
            F.struct(
                F.col("o_orderkey"),
                F.col("o_totalprice").cast("double").alias("o_totalprice"),
            )
            if op != "d"
            else F.lit(None).cast("struct<o_orderkey:bigint,o_totalprice:double>")
        )
        return df.select(
            F.col("o_orderkey"),
            F.lit(op).alias("op"),
            F.lit(ts).cast("long").alias("ts_ms"),
            after.alias("after"),
        )

    mt.merge_versioned(to_batch(orders, "c", 1), target, ["o_orderkey"], n_buckets=8)
    updates = to_batch(
        orders.filter(F.col("o_orderkey") % 3 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + 100.0
        ),
        "u", 2,
    )
    deletes = to_batch(orders.filter(F.col("o_orderkey") % 7 == 0), "d", 2)
    mt.merge_versioned(
        updates.unionByName(deletes), target, ["o_orderkey"], n_buckets=8
    )
    v1 = mt.read_snapshot(spark, target, 1).select(
        F.lit(1).alias("version"), "o_orderkey", "o_totalprice"
    )
    v2 = mt.read_snapshot(spark, target, 2).select(
        F.lit(2).alias("version"), "o_orderkey", "o_totalprice"
    )
    return v1.unionByName(v2)


@register(
    "stream_jdbc_upsert_live",
    oracle="""
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 3 = 0
                    THEN CAST(o_totalprice AS DOUBLE) + 100.0
                    ELSE CAST(o_totalprice AS DOUBLE) END AS o_totalprice,
               o_orderstatus
        FROM orders WHERE o_orderkey <= 150 AND o_orderkey % 7 <> 0
    """,
    survey_ids=("S8", "S1", "ST5", "ST6"),
    single_jvm=True,
)
def stream_jdbc_upsert_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE streaming→OLTP sink end to end: a CDC change log over
    orders (inserts, %3 updates, %7 deletes) replays through the
    checkpointed file-source stream into an embedded-Derby table —
    each micro-batch one database transaction with a batch-id ledger
    (``streaming.upsert.jdbc_upsert_batch``; the reference's topology
    REVERSED: its generator writes OLTP rows that Debezium streams out,
    here the stream lands back in an OLTP serving table).  The final
    table reads back through the range-partitioned JDBC source and
    hash-checks against the oracle's statement of the merged state.  SINGLE-JVM boundary: the embedded Derby engine is
    bootable by one JVM only and Spark ships no derbynet/derbyclient
    jars, so under a multi-JVM master (local-cluster/standalone) this
    fixture cannot be shared across executors — multi-JVM sweeps skip
    it (catalog ``single_jvm=True``); on a real cluster the same code
    path runs against a networked RDBMS URL.
    """
    import os as _os

    from end_end_data_pipeline__spark.streaming import upsert as U

    tmp = tempfile.mkdtemp(prefix="jdbc_stream_")
    src, ckpt = _os.path.join(tmp, "src"), _os.path.join(tmp, "ckpt")
    _os.makedirs(src)
    url = f"jdbc:derby:{tmp}/db;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"

    base = (
        lake.load_table(spark, "orders", sf_dir)
        .filter(F.col("o_orderkey") <= 150)
        .select(
            "o_orderkey",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            "o_orderstatus",
        )
    )
    ins = base.select(
        "*", F.lit("c").alias("op"), F.lit(1).cast("long").alias("ts_ms")
    )
    upd = (
        base.filter(F.col("o_orderkey") % 3 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + 100.0)
        .select("*", F.lit("u").alias("op"), F.lit(2).cast("long").alias("ts_ms"))
    )
    dele = base.filter(F.col("o_orderkey") % 7 == 0).select(
        "*", F.lit("d").alias("op"), F.lit(3).cast("long").alias("ts_ms")
    )
    changes = ins.unionByName(upd).unionByName(dele)
    cdc.encode_envelope(changes, "op", "ts_ms", "orders").coalesce(
        1
    ).write.mode("append").text(src)
    with bounded_stream_shuffle(spark):
        U.stream_cdc_file_source_jdbc(
            spark, src, base.schema, ["o_orderkey"], url, "orders_live", ckpt,
            driver=driver,
        ).awaitTermination()
    return lake.read_jdbc(
        spark, url, "orders_live",
        partition_column="o_orderkey", num_partitions=4,
        lower_bound=0, upper_bound=151, driver=driver,
    ).select("o_orderkey", "o_totalprice", "o_orderstatus")


@register(
    "versioned_zorder_skipping",
    oracle="""
        SELECT event_id, user_id, CAST(value AS DOUBLE) AS value
        FROM events
        WHERE user_id BETWEEN 20 AND 40
          AND value >= 10.0 AND value < 50.0
    """,
    survey_ids=("S5", "S10", "P5"),
)
def versioned_zorder_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dimensional data skipping: the events table is OPTIMIZE'd
    with a Z-ORDER clustering (``functions.zorder.interleave_bits`` of
    bucketized user_id × value as the compact sort key), so each data
    file is a small hyper-rectangle in (user, value) space and the
    manifest's min/max stats prune on EITHER dimension — where a
    lexicographic sort would only serve the leading column
    (comparative proof in tests/test_manifest_table.py).  The pruned
    two-band read must hash-match the oracle's plain filter."""
    from end_end_data_pipeline__spark.functions import zorder
    from end_end_data_pipeline__spark.sources import manifest_table as mt

    target = tempfile.mkdtemp(prefix="mct_z_") + "/t"
    events = lake.load_table(spark, "events", sf_dir)
    batch = events.select(
        "event_id",
        F.lit("c").alias("op"),
        F.lit(1).cast("long").alias("ts_ms"),
        F.struct(
            "event_id", "user_id",
            F.col("value").cast("double").alias("value"),
        ).alias("after"),
    )
    mt.merge_versioned(batch, target, ["event_id"], n_buckets=4)
    zcol = zorder.interleave_bits(
        zorder.bucketize(F.col("user_id"), 0, 150, 64),
        zorder.bucketize(F.col("value"), 0.0, 100.0, 64),
        bits=6,
    )
    mt.compact(spark, target, cluster_by=[zcol], max_records_per_file=256)
    out = mt.read_where(
        spark,
        target,
        [
            ("user_id", ">=", 20),
            ("user_id", "<=", 40),
            ("value", ">=", 10.0),
            ("value", "<", 50.0),
        ],
    )
    return out.select("event_id", "user_id", "value")


@register(
    "versioned_merge_into_upsert",
    oracle="""
        WITH base AS (
            SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice,
                   o_orderstatus
            FROM orders WHERE o_orderkey <= 100
        )
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 100.0
                    ELSE o_totalprice END AS o_totalprice,
               CASE WHEN o_orderkey % 3 = 0 THEN 'U'
                    ELSE o_orderstatus END AS o_orderstatus
        FROM base WHERE o_orderkey % 7 <> 0
        UNION ALL
        SELECT o_orderkey + 1000, o_totalprice * 2, 'N'
        FROM base WHERE o_orderkey % 5 = 0
    """,
    survey_ids=("S5", "ST5", "J4"),
)
def versioned_merge_into_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL MERGE INTO on the manifest-committed table — the general
    matched/not-matched clause surface (``manifest_table.merge_into``)
    the reference's append-only consumer lacks entirely: one merge
    applies source-replace updates (keys %3), a delete clause over the
    source rows (keys %7, ``s.o_orderstatus = 'DEL'``), and inserts of
    unmatched keys (+1000 rows) — atomically, as one table version.
    The oracle states the post-merge table directly."""
    from end_end_data_pipeline__spark.sources import manifest_table as mt

    target = tempfile.mkdtemp(prefix="mct_mi_") + "/t"
    base = (
        lake.load_table(spark, "orders", sf_dir)
        .filter(F.col("o_orderkey") <= 100)
        .select(
            "o_orderkey",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            "o_orderstatus",
        )
    )
    mt.merge_into(base, target, ["o_orderkey"], n_buckets=8)
    upd = base.filter(
        (F.col("o_orderkey") % 3 == 0) & (F.col("o_orderkey") % 7 != 0)
    ).select(
        "o_orderkey",
        (F.col("o_totalprice") + 100.0).alias("o_totalprice"),
        F.lit("U").alias("o_orderstatus"),
    )
    dele = base.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        F.lit(0.0).alias("o_totalprice"),
        F.lit("DEL").alias("o_orderstatus"),
    )
    ins = base.filter(F.col("o_orderkey") % 5 == 0).select(
        (F.col("o_orderkey") + 1000).alias("o_orderkey"),
        (F.col("o_totalprice") * 2).alias("o_totalprice"),
        F.lit("N").alias("o_orderstatus"),
    )
    mt.merge_into(
        upd.unionByName(dele).unionByName(ins),
        target,
        ["o_orderkey"],
        when_matched_delete="s.o_orderstatus = 'DEL'",
        n_buckets=8,
    )
    return mt.read_snapshot(spark, target)


@register(
    "versioned_change_feed",
    oracle="""
        WITH base AS (
            SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
            FROM orders WHERE o_orderkey <= 100
        )
        SELECT o_orderkey, o_totalprice, 'delete' AS _change_type
        FROM base WHERE o_orderkey % 7 = 0
        UNION ALL
        SELECT o_orderkey, o_totalprice, 'update_preimage'
        FROM base WHERE o_orderkey % 3 = 0 AND o_orderkey % 7 <> 0
        UNION ALL
        SELECT o_orderkey, o_totalprice + 100.0, 'update_postimage'
        FROM base WHERE o_orderkey % 3 = 0 AND o_orderkey % 7 <> 0
    """,
    survey_ids=("ST8", "S5", "P1"),
)
def versioned_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed between two table versions
    (``manifest_table.table_changes`` — the Delta CDF surface, derived
    from manifest diffs): after the same two-batch history as the
    time-travel query, the v1→v2 feed must contain exactly the %7
    deletes and the %3 update pre/post image pairs — and nothing for
    untouched rows, even ones living in rewritten buckets.  Only
    buckets whose file lists differ are read.  This is what downstream
    incremental mart refreshes consume instead of re-scanning."""
    from end_end_data_pipeline__spark.sources import manifest_table as mt

    target = tempfile.mkdtemp(prefix="mct_cdf_") + "/t"
    orders = lake.load_table(spark, "orders", sf_dir).filter(
        F.col("o_orderkey") <= 100
    )

    def to_batch(df, op, ts):
        after = (
            F.struct(
                F.col("o_orderkey"),
                F.col("o_totalprice").cast("double").alias("o_totalprice"),
            )
            if op != "d"
            else F.lit(None).cast("struct<o_orderkey:bigint,o_totalprice:double>")
        )
        return df.select(
            F.col("o_orderkey"),
            F.lit(op).alias("op"),
            F.lit(ts).cast("long").alias("ts_ms"),
            after.alias("after"),
        )

    mt.merge_versioned(to_batch(orders, "c", 1), target, ["o_orderkey"], n_buckets=8)
    updates = to_batch(
        orders.filter(F.col("o_orderkey") % 3 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + 100.0
        ),
        "u", 2,
    )
    deletes = to_batch(orders.filter(F.col("o_orderkey") % 7 == 0), "d", 2)
    mt.merge_versioned(updates.unionByName(deletes), target, ["o_orderkey"])
    return mt.table_changes(spark, target, ["o_orderkey"], 1, 2)


@register(
    "versioned_incremental_mart",
    oracle="""
        WITH base AS (
            SELECT o_orderkey, o_orderstatus,
                   CAST(o_totalprice AS DOUBLE) AS o_totalprice
            FROM orders WHERE o_orderkey <= 200
        ),
        final AS (
            SELECT o_orderkey, o_orderstatus,
                   CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 100.0
                        ELSE o_totalprice END AS o_totalprice
            FROM base WHERE o_orderkey % 7 <> 0
        )
        SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS STRING) AS DOUBLE)
                   AS total_value
        FROM final GROUP BY o_orderstatus
    """,
    survey_ids=("A2", "ST8", "S5"),
)
def versioned_incremental_mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance — the change feed and
    MERGE INTO composed: a (status → count, total) mart is built once
    from the base table's v1, the base then takes an update+delete
    wave, and the mart is refreshed from ``table_changes(v1, v2)``
    ALONE — signed per-group deltas (+post/insert, −pre/delete)
    merged with per-column update expressions (``t.n + s.n``), a
    delete clause for groups reaching zero, and inserts for brand-new
    groups.  The money column is stored DECIMAL so incremental
    addition is order-independent and the refreshed mart equals the
    full recompute BIT-for-bit — which is exactly what the oracle
    checks (it recomputes from the final base state).  At 100 TB the
    refresh cost is O(changed buckets + mart), never O(base table)."""
    from end_end_data_pipeline__spark.sources import manifest_table as mt

    root = tempfile.mkdtemp(prefix="mct_inc_")
    base_t, mart_t = f"{root}/base", f"{root}/mart"
    orders = (
        lake.load_table(spark, "orders", sf_dir)
        .filter(F.col("o_orderkey") <= 200)
        .select(
            "o_orderkey", "o_orderstatus",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
        )
    )
    mt.merge_into(orders, base_t, ["o_orderkey"], n_buckets=8)

    # v1 mart: full build, stored decimal-exact
    mart_v1 = orders.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(25,6)")).cast(
            "decimal(25,6)"
        ).alias("total_value"),
    )
    mt.merge_into(mart_v1, mart_t, ["o_orderstatus"], n_buckets=4)

    # base takes an update + delete wave; %21 keys (both %3 and %7)
    # belong ONLY to the delete branch — one source row per key, the
    # contract merge_into enforces
    upd = orders.filter(
        (F.col("o_orderkey") % 3 == 0) & (F.col("o_orderkey") % 7 != 0)
    ).withColumn("o_totalprice", F.col("o_totalprice") + 100.0)
    mt.merge_into(
        upd.unionByName(
            orders.filter(F.col("o_orderkey") % 7 == 0).withColumn(
                "o_orderstatus", F.lit("DEL")
            )
        ),
        base_t,
        ["o_orderkey"],
        when_matched_delete="s.o_orderstatus = 'DEL'",
    )

    # refresh from the feed alone: signed deltas -> MERGE
    feed = mt.table_changes(spark, base_t, ["o_orderkey"], 1, 2)
    sign = F.when(
        F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))
    deltas = (
        feed.withColumn("__s", sign)
        .groupBy("o_orderstatus")
        .agg(
            F.sum("__s").alias("n_orders"),
            F.sum(
                (F.col("__s") * F.col("o_totalprice")).cast("decimal(25,6)")
            ).cast("decimal(25,6)").alias("total_value"),
        )
    )
    mt.merge_into(
        deltas, mart_t, ["o_orderstatus"],
        when_matched_update={
            "n_orders": "t.n_orders + s.n_orders",
            "total_value": "t.total_value + s.total_value",
        },
        when_matched_delete="t.n_orders + s.n_orders = 0",
    )
    mart = mt.read_snapshot(spark, mart_t)
    return mart.select(
        "o_orderstatus",
        "n_orders",
        F.col("total_value").cast("double").alias("total_value"),
    )


@register(
    "versioned_stats_skipping",
    oracle="""
        SELECT event_id, ts, event_type, CAST(value AS DOUBLE) AS value
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-10'
          AND ts <  TIMESTAMP '2024-01-15'
          AND value >= 50.0
    """,
    survey_ids=("S5", "S10", "P6"),
)
def versioned_stats_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-stats data skipping end to end: the events stream is
    merged into a manifest-committed table, OPTIMIZE'd with
    ``cluster_by=["ts"]`` (each hash bucket rewritten into ts-sorted
    files with near-disjoint [min, max] ranges), then a time-band +
    value predicate reads back through ``read_where`` — which opens
    ONLY the files whose manifest stats can satisfy the band (the
    range-predicate complement of hash-bucket point pruning; what the
    reference gets from its (account_id, created_at) index,
    reference ``SCHEMA.sql:31``, re-expressed as file skipping).  The
    oracle states the same band over the raw events table — parity
    proves pruning never drops a matching row."""
    import datetime as dt

    from end_end_data_pipeline__spark.sources import manifest_table as mt

    target = tempfile.mkdtemp(prefix="mct_skip_") + "/t"
    events = lake.load_table(spark, "events", sf_dir)
    batch = events.select(
        "event_id",
        F.lit("c").alias("op"),
        F.lit(1).cast("long").alias("ts_ms"),
        F.struct(
            "event_id", "ts", "event_type",
            F.col("value").cast("double").alias("value"),
        ).alias("after"),
    )
    mt.merge_versioned(batch, target, ["event_id"], n_buckets=8)
    mt.compact(spark, target, cluster_by=["ts"], max_records_per_file=256)
    out = mt.read_where(
        spark,
        target,
        [
            ("ts", ">=", dt.datetime(2024, 1, 10)),
            ("ts", "<", dt.datetime(2024, 1, 15)),
            ("value", ">=", 50.0),
        ],
    )
    return out.select("event_id", "ts", "event_type", "value")


@register(
    "window_tumbling_daily",
    oracle=f"""
        SELECT date_trunc('day', ts) AS win_start,
               date_trunc('day', ts) + INTERVAL 1 DAY AS win_end,
               event_type,
               COUNT(*) AS n_events, {dsum("value", "total_value")}
        FROM events GROUP BY 1, 2, 3
    """,
    survey_ids=("ST2", "A6"),
)
def window_tumbling_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day event-time window — the event-time-correct version
    of the reference's processing-time date partitioning (its bug:
    ``date=datetime.now()`` while rows carry event time,
    reference ``consumer/consumer.py:45,48``)."""
    from end_end_data_pipeline__spark.streaming.windows import tumbling_agg

    events = lake.load_table(spark, "events", sf_dir)
    out = tumbling_agg(
        events, "ts", "1 day", ["event_type"],
        [F.count("*").alias("n_events"), dec_sum("value", "total_value")],
    )
    return out.select(
        F.col("window.start").alias("win_start"),
        F.col("window.end").alias("win_end"),
        "event_type", "n_events", "total_value",
    )


@register(
    "window_sliding_10m_5m",
    oracle=f"""
        WITH hopped AS (
            -- naive arithmetic on purpose: to_timestamp() returns
            -- TIMESTAMPTZ, whose cast back to naive goes through the
            -- DuckDB session zone — under a non-UTC TZ env every
            -- win_start would shift (caught by the r07 hostile-TZ
            -- invariance sweep: 0 oracle rows under Kiritimati)
            SELECT e.*, TIMESTAMP '1970-01-01' + CAST(
                     (floor(epoch(ts) / 300) * 300) - h.hop * 300
                     AS BIGINT) * INTERVAL 1 SECOND AS win_start
            FROM events e, (SELECT unnest([0, 1]) AS hop) h
        )
        SELECT win_start, win_start + INTERVAL 10 MINUTE AS win_end,
               COUNT(*) AS n_events, {dsum("value", "total_value")}
        FROM hopped
        WHERE ts >= win_start AND ts < win_start + INTERVAL 10 MINUTE
        GROUP BY 1, 2
    """,
    survey_ids=("ST4",),
)
def window_sliding_10m_5m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 10-minute window hopping every 5 — each event lands in 2
    windows.  Oracle replays Spark's hop assignment arithmetically."""
    from end_end_data_pipeline__spark.streaming.windows import sliding_agg

    events = lake.load_table(spark, "events", sf_dir)
    out = sliding_agg(
        events, "ts", "10 minutes", "5 minutes", [],
        [F.count("*").alias("n_events"), dec_sum("value", "total_value")],
    )
    return out.select(
        F.col("window.start").alias("win_start"),
        F.col("window.end").alias("win_end"),
        "n_events", "total_value",
    )


@register(
    "window_session_30m",
    oracle="""
        WITH marked AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS brk
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), grouped AS (
            SELECT user_id, ts,
                   SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS grp
            FROM marked
        )
        SELECT user_id,
               MIN(ts) AS session_start,
               MAX(ts) + INTERVAL 30 MINUTE AS session_end,
               COUNT(*) AS n_events
        FROM grouped GROUP BY user_id, grp
    """,
    survey_ids=("ST4",),
)
def window_session_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min gap) per user — sessionization as
    Structured Streaming's ``session_window`` in batch mode; the oracle
    is the classic lag/cumsum island construction."""
    from end_end_data_pipeline__spark.streaming.windows import session_agg

    events = lake.load_table(spark, "events", sf_dir)
    out = session_agg(
        events, "ts", "30 minutes", ["user_id"], [F.count("*").alias("n_events")]
    )
    return out.select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        "n_events",
    )


@register(
    "stream_daily_event_agg",
    oracle=f"""
        SELECT strftime(ts, '%Y-%m-%d') AS event_date,
               COUNT(*) AS n_events, {dsum("value", "total_value")}
        FROM events GROUP BY 1
    """,
    survey_ids=("ST1", "ST2", "A10"),
)
def stream_daily_event_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE Structured Streaming: file-source replay of the events table
    → stateful daily aggregation → memory sink (complete mode), then the
    sink table is returned as the result.  Proves the streaming path
    end-to-end while staying oracle-checkable (complete mode emits
    every window; no watermark drops in a full replay)."""
    stream = lake.stream_events(spark, sf_dir)
    agg = stream.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("event_date")
    ).agg(F.count("*").alias("n_events"), dec_sum("value", "total_value"))
    name = "stream_daily_event_agg_sink"
    with bounded_stream_shuffle(spark):
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


@register(
    "stream_cdc_upsert_pipeline",
    # the CDC waves are deterministic projections of `customer`, so the
    # final merged state is plain SQL: live keys = not deleted; balance
    # doubled where the update wave hit.  Upgrades ST5/ST6/ST8 from a
    # rows-only check to a full hash check of the streamed merge.
    oracle="""
        SELECT c_custkey AS id, c_custkey AS customer_id,
               CASE WHEN c_custkey % 5 = 0 THEN 'SAVINGS'
                    ELSE 'CHECKING' END AS account_type,
               CAST(CAST(CASE WHEN c_custkey % 2 = 0 THEN c_acctbal * 2
                              ELSE c_acctbal END AS DECIMAL(18,2))
                    AS DOUBLE) AS balance,
               CASE c_nationkey % 3 WHEN 0 THEN 'USD'
                    WHEN 1 THEN 'EUR' ELSE 'GBP' END AS currency
        FROM customer
        WHERE c_custkey <= 500 AND c_custkey % 7 <> 0
    """,
    survey_ids=("ST5", "ST6", "ST8", "S5"),
)
def stream_cdc_upsert_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end streaming upsert on the MANIFEST-COMMITTED backend
    (round 5: the flagship runs the atomic path, not plain parquet):
    three deterministic CDC waves derived from ``customer`` — inserts
    for every key, doubled-balance updates for even keys, deletes for
    multiples of 7 — are written as JSONL envelope files, streamed
    through decode → checkpointed ``foreachBatch`` →
    ``merge_versioned`` (one atomic table version per micro-batch, 3
    files per trigger so several versions commit), and the final
    snapshot is read back FROM THE MANIFEST.  Latest-wins semantics
    make the outcome independent of which wave lands in which
    micro-batch."""
    import os

    from end_end_data_pipeline__spark import schemas
    from end_end_data_pipeline__spark.sources import manifest_table as mt
    from end_end_data_pipeline__spark.streaming.upsert import (
        stream_cdc_file_source_versioned,
    )

    tmp = tempfile.mkdtemp(prefix="cdc_upsert_")
    src, target, ckpt = (os.path.join(tmp, d) for d in ("src", "target", "ckpt"))

    base = (
        lake.load_table(spark, "customer", sf_dir)
        .filter(F.col("c_custkey") <= 500)
        .select(
            F.col("c_custkey").alias("id"),
            F.col("c_custkey").alias("customer_id"),
            F.when(F.col("c_custkey") % 5 == 0, "SAVINGS")
            .otherwise("CHECKING")
            .alias("account_type"),
            F.col("c_acctbal").cast("double").alias("balance"),
            F.when(F.col("c_nationkey") % 3 == 0, "USD")
            .when(F.col("c_nationkey") % 3 == 1, "EUR")
            .otherwise("GBP")
            .alias("currency"),
            F.lit(1_700_000_000_000_000).alias("created_at"),
        )
    )
    inserts = base.withColumn("op", F.lit("c")).withColumn(
        "ts_ms", F.col("id") + 1000
    )
    updates = (
        base.filter(F.col("id") % 2 == 0)
        .withColumn("balance", F.col("balance") * 2)
        .withColumn("op", F.lit("u"))
        .withColumn("ts_ms", F.col("id") + 2_000_000)
    )
    deletes = (
        base.filter(F.col("id") % 7 == 0)
        .withColumn("op", F.lit("d"))
        .withColumn("ts_ms", F.col("id") + 4_000_000)
    )
    # one file per wave → availableNow + maxFilesPerTrigger=1 commits one
    # atomic manifest version per wave
    for wave in (inserts, updates, deletes):
        cdc.encode_envelope(wave, "op", "ts_ms", "accounts").coalesce(
            1
        ).write.mode("append").text(src)

    with bounded_stream_shuffle(spark):
        q = stream_cdc_file_source_versioned(
            spark, src, schemas.cdc_row_schema("accounts"), ["id"], target,
            ckpt, max_files_per_trigger=1, n_buckets=8,
        )
        q.awaitTermination()
    silver = cdc.silver_banking(mt.read_snapshot(spark, target), "accounts")
    return silver.select(
        "id", "customer_id", "account_type",
        F.col("balance").cast("double").alias("balance"), "currency",
    )


from end_end_data_pipeline__spark.plans.banking_oracle import fanout_oracle_sql


@register(
    "banking_generator_fanout",
    # the oracle INDEPENDENTLY replays the whole synthesis in DuckDB
    # from the seed string (r08, VERDICT r07 task 5 — formerly a
    # pinned-VALUES determinism check): every u32 draw, threshold
    # ladder, timestamp snap, and counterparty FK is recomputed with
    # the shared integer closed forms of sources/datagen.py.
    oracle=fanout_oracle_sql(n_customers=100, per_account=4, seed="s42"),
    survey_ids=("UD4", "S8", "F9"),
)
def banking_generator_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference generator's customer→accounts→transactions fan-out
    (reference ``generator.py:181-319``) as pure DataFrame synthesis.

    Returns a per-table summary — (table_name, n_rows, id_sum,
    row_checksum) — over a 100-customer iteration, where row_checksum
    sums a 32-bit md5 prefix of a canonical per-row string (timestamps
    as epoch seconds, money as integer cents, so every compared value
    crosses engines as an integer or a pool string; nullable columns
    coalesced to a sentinel so the hash sees null placement).  Runs the
    md5 hash family — the DuckDB-replicable verifiability twin of the
    xxhash64 engine default (same integer arithmetic, different u32
    source; the MinHash md5-family pattern) — so the oracle
    (plans/banking_oracle.py) re-derives all three tables from the
    seed alone and the driver hash-checks the ENTIRE generator
    fan-out against an independent engine."""
    star = datagen.banking_star(
        spark, n_customers=100, txns_per_account=4, hash_family="md5"
    )

    def canon(df: DataFrame, cols: list) -> DataFrame:
        parts = [F.coalesce(c.cast("string"), F.lit("~N~")) for c in cols]
        h = F.conv(F.substring(F.md5(F.concat_ws("|", *parts)), 1, 8), 16, 10)
        return df.select(
            F.col("id"), h.cast("bigint").alias("__h")
        )

    def summarize(name: str, hashed: DataFrame) -> DataFrame:
        return hashed.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("id").cast("bigint").alias("id_sum"),
            F.sum("__h").cast("bigint").alias("row_checksum"),
        ).select(
            F.lit(name).alias("table_name"), "n_rows", "id_sum", "row_checksum"
        )

    c = star["customers"]
    cust = canon(c, [
        F.col("id"), F.col("first_name"), F.col("last_name"), F.col("email"),
        F.col("address.street"), F.col("address.city"), F.col("address.state"),
        F.col("address.postal_code"), F.col("address.country"),
        F.col("created_at").cast("long"),
    ])
    a = star["accounts"]
    acct = canon(a, [
        F.col("id"), F.col("customer_id"), F.col("account_type"),
        (F.col("balance") * 100).cast("long"), F.col("currency"),
        F.col("created_at").cast("long"),
    ])
    t = star["transactions"]
    txn = canon(t, [
        F.col("id"), F.col("account_id"), F.col("txn_type"),
        (F.col("amount") * 100).cast("long"),
        F.col("related_account_id"), F.col("status"),
        F.col("created_at").cast("long"),
    ])
    return (
        summarize("customers", cust)
        .unionByName(summarize("accounts", acct))
        .unionByName(summarize("transactions", txn))
    )


@register(
    "versioned_dml_delete_update_restore",
    oracle="""
        WITH base AS (
            SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice,
                   o_orderstatus
            FROM orders WHERE o_orderkey <= 120
        ),
        updated AS (
            SELECT o_orderkey,
                   CASE WHEN o_orderstatus = 'P'
                        THEN o_totalprice + 50 ELSE o_totalprice END
                       AS o_totalprice
            FROM base
        )
        SELECT 2 AS version, o_orderkey, o_totalprice FROM updated
        UNION ALL
        SELECT 3, o_orderkey, o_totalprice FROM updated
        WHERE o_orderkey <= 100
        UNION ALL
        SELECT 4, o_orderkey, o_totalprice FROM base
    """,
    survey_ids=("S5", "ST6", "P5"),
)
def versioned_dml_delete_update_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative DML on the manifest-committed table: UPDATE ... WHERE
    (+50 on every PENDING order), DELETE ... WHERE (keys > 100), then
    RESTORE to version 1 — three committed versions read back by
    version and hash-checked against the oracle's statement of each
    state.  UPDATE/DELETE rewrite only the buckets whose file stats can
    match the predicate (manifest data skipping, see
    ``manifest_table._dml_rewrite``); RESTORE is metadata-only — no
    data rewrite, full history preserved."""
    from end_end_data_pipeline__spark.sources import manifest_table as mt

    target = tempfile.mkdtemp(prefix="mct_dml_") + "/t"
    orders = lake.load_table(spark, "orders", sf_dir).filter(
        F.col("o_orderkey") <= 120
    )
    batch = orders.select(
        F.col("o_orderkey"),
        F.lit("c").alias("op"),
        F.lit(1).cast("long").alias("ts_ms"),
        F.struct(
            F.col("o_orderkey"),
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            F.col("o_orderstatus"),
        ).alias("after"),
    )
    mt.merge_versioned(batch, target, ["o_orderkey"], n_buckets=8)      # v1
    mt.update_where(
        spark, target, [("o_orderstatus", "=", "P")],
        {"o_totalprice": "o_totalprice + 50"},
    )                                                                   # v2
    mt.delete_where(spark, target, [("o_orderkey", ">", 100)])          # v3
    mt.restore(spark, target, 1)                                        # v4
    out = None
    for v in (2, 3, 4):
        snap = mt.read_snapshot(spark, target, v).select(
            F.lit(v).alias("version"), "o_orderkey", "o_totalprice"
        )
        out = snap if out is None else out.unionByName(snap)
    return out


@register(
    "stream_stream_left_outer",
    oracle="""
        SELECT * FROM (VALUES
            (CAST(1 AS BIGINT), TIMESTAMP '2024-01-01 10:00:00',
             TIMESTAMP '2024-01-01 10:20:00'),
            (CAST(2 AS BIGINT), TIMESTAMP '2024-01-01 10:10:00',
             CAST(NULL AS TIMESTAMP))
        ) AS t(user_id, click_ts, purchase_ts)
    """,
    survey_ids=("ST7", "ST3", "J4"),
)
def stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join — the state-EVICTION semantics the
    inner variant never exercises: a click with no purchase in its
    following hour is emitted with nulls only once the watermark
    proves no qualifying purchase can still arrive.  ONE availableNow
    run with ``maxFilesPerTrigger=1`` sequences three micro-batches
    deterministically (files are fed in mtime order, one per source
    per trigger):

    1. clicks u1@10:00 + u2@10:10, purchase u1@10:20 → the u1 pair
       emits immediately (inner path);
    2. far-future traffic on BOTH streams (14:00) advances the global
       watermark (min across sources) past u2's 11:10 expiry;
    3. the third batch makes the eviction fire: u2 emits with a NULL
       purchase side.

    The u3/u7/u8/u9 padding rows stay in state (their own windows are
    still open) — exactly the bounded-state contract.  The oracle
    states the final sink verbatim.  The tiny fixed input gets 8
    state-store partitions instead of the session default (a vanilla
    200 would pay hundreds of empty state tasks per batch); the prior
    conf is restored on exit."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    tmp = tempfile.mkdtemp(prefix="ss_outer_")
    c_src, p_src, sink, ckpt = (
        os.path.join(tmp, d) for d in ("clicks", "purchases", "sink", "ckpt")
    )
    os.makedirs(c_src)
    os.makedirs(p_src)

    feed_n = [0]

    def feed(path, rows):
        # pyarrow direct write: a 2-row Spark job costs ~4s of task
        # scheduling on a many-core session; the fixture feed is not
        # the thing under test.  Monotonic names keep the file-source
        # mtime/path order deterministic.
        import datetime as dt

        import pyarrow as pa
        import pyarrow.parquet as pq

        ids = [r[0] for r in rows]
        tss = [
            dt.datetime.strptime(r[1], "%Y-%m-%d %H:%M:%S") for r in rows
        ]
        table = pa.table(
            {
                "user_id": pa.array(ids, pa.int64()),
                "ts": pa.array(tss, pa.timestamp("us")),
            }
        )
        feed_n[0] += 1
        fp = os.path.join(path, f"feed-{feed_n[0]:03d}.parquet")
        pq.write_table(table, fp)
        # sub-ms writes can TIE on mtime, and the file stream source
        # orders batches by mtime — pin strictly increasing mtimes so
        # the three-trigger sequence is deterministic
        t = 1_700_000_000 + feed_n[0]
        os.utime(fp, (t, t))

    def run():
        clicks = (
            spark.readStream.schema("user_id long, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(c_src)
            .select("user_id", F.col("ts").alias("click_ts"))
            .withWatermark("click_ts", "30 minutes")
        )
        purchases = (
            spark.readStream.schema("user_id long, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(p_src)
            .select(
                F.col("user_id").alias("p_user_id"),
                F.col("ts").alias("purchase_ts"),
            )
            .withWatermark("purchase_ts", "30 minutes")
        )
        joined = clicks.join(
            purchases,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("purchase_ts") > F.col("click_ts"))
            & (
                F.col("purchase_ts")
                <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")
            ),
            "left_outer",
        ).select("user_id", "click_ts", "purchase_ts")
        q = (
            joined.writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    base = "2024-01-01 "
    try:
        feed(c_src, [(1, base + "10:00:00"), (2, base + "10:10:00")])
        feed(p_src, [(1, base + "10:20:00")])
        feed(c_src, [(9, base + "14:00:00")])
        feed(p_src, [(3, base + "14:00:00")])
        feed(c_src, [(8, base + "14:05:00")])
        feed(p_src, [(7, base + "14:05:00")])
        run()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return spark.read.parquet(sink)


@register(
    "pyds_stream_source_replay",
    oracle="""
        SELECT i AS id,
               (i * 7919) % 1000 + 1 AS account_id,
               ['DEPOSIT', 'WITHDRAWAL', 'TRANSFER', 'PAYMENT',
                'REFUND', 'FEE', 'INTEREST'][(i % 7) + 1] AS txn_type,
               CASE WHEN i % 100 < 85 THEN 'COMPLETED'
                    WHEN i % 100 < 93 THEN 'PENDING'
                    WHEN i % 100 < 97 THEN 'FAILED'
                    ELSE 'CANCELLED' END AS status,
               CAST((i * 31 + 7) % 1000000 AS DOUBLE)
                   / CAST(100 AS DOUBLE) AS amount,
               1700000000000000 + i * 1000000 AS created_us
        FROM generate_series(0, 1499) AS t(i)
    """,
    survey_ids=("S2", "S3", "ST1", "ST6", "ST8"),
)
def pyds_stream_source_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STREAMING source via the Python Data Source API with
    explicit offset management: the banking generator emits 500-row
    micro-batches (offset = next row id), and the query RESTARTS the
    stream from its checkpoint repeatedly until the source is drained
    — every restart resumes at the committed offset, so the sink holds
    ids 0..1499 EXACTLY ONCE across all runs (the replayable-offsets
    contract the reference's fire-and-forget consumer lacks,
    ``sources/pyds.py``).  The oracle restates the drained table with
    generate_series."""
    from end_end_data_pipeline__spark.sources import pyds

    pyds.register_stream(spark)
    tmp = tempfile.mkdtemp(prefix="pyds_stream_")
    sink, ckpt = os.path.join(tmp, "sink"), os.path.join(tmp, "ckpt")
    n_rows = 1500
    for _ in range(n_rows // 500 + 2):  # bounded: one batch per run
        q = (
            spark.readStream.format("banking_gen_stream")
            .option("n_rows", n_rows)
            .option("rows_per_batch", 500)
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        done = spark.read.parquet(sink).count() >= n_rows
        if done:
            break
    return spark.read.parquet(sink)


@register(
    "stream_hll_incremental",
    oracle=f"""
        WITH h AS (
            SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
                     AS u32
            FROM events WHERE user_id IS NOT NULL
        ),
        r AS (
            SELECT u32 % 256 AS idx,
                   CASE WHEN u32 // 256 = 0 THEN 25
                        ELSE 25 - length(ltrim(bin(u32 // 256), '0')) END AS rank
            FROM h
        ),
        regs AS (SELECT idx, MAX(rank) AS m FROM r GROUP BY 1),
        s AS (
            SELECT CAST(SUM(CAST(1 AS BIGINT) << (25 - m))
                        + (256 - COUNT(*)) * (CAST(1 AS BIGINT) << 25)
                        AS BIGINT) AS s_int,
                   CAST(256 - COUNT(*)
                        + SUM(CASE WHEN m = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_zero
            FROM regs
        ),
        exact AS (
            SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
            FROM events WHERE user_id IS NOT NULL
        )
        SELECT CAST(3 AS BIGINT) AS n_batches, e.n_exact,
               CAST({sketches.hll_estimate_sql("s.s_int", "s.n_zero")}
                    AS BIGINT) AS hll_estimate,
               s.n_zero AS n_zero_registers,
               CAST(abs(CAST({sketches.hll_estimate_sql("s.s_int", "s.n_zero")}
                        AS BIGINT) - e.n_exact) * 1000000 // e.n_exact
                    AS BIGINT) AS rel_error_ppm
        FROM s, exact e
    """,
    survey_ids=("A10", "ST1", "ST8", "A4"),
)
def stream_hll_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained distinct count over a STREAM: each
    micro-batch folds into HLL registers inside ``foreachBatch`` (one
    tiny hash agg per batch — never a re-scan of history), the
    per-batch register rows append to a lake path, and the final
    estimate is the merge (per-register MAX) of everything appended —
    bit-identical to building one sketch over all the data, because
    register merge is associative and commutative.  THE production
    shape for "distinct users so far" on an unbounded stream: state is
    m register rows per batch, the nightly compaction is the same MAX,
    and no batch ever touches another batch's input.

    The events table is replayed as three micro-batches
    (``maxFilesPerTrigger=1`` over three split feed files; batch
    ORDER doesn't matter — max is order-insensitive, so no mtime
    pinning is needed for the merged state).  The oracle computes the
    same integer HLL estimate over the whole table in one shot and
    must hash-match the three-batch incremental result exactly."""
    from end_end_data_pipeline__spark.operators import sketches as sk

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    tmp = tempfile.mkdtemp(prefix="hll_inc_")
    src_dir, regs_dir, ckpt = (
        os.path.join(tmp, d) for d in ("src", "regs", "ckpt")
    )
    os.makedirs(src_dir)

    # split the fixture into three feed files by event_id % 3 so the
    # availableNow run sequences three genuine micro-batches
    ev = lake.load_table(spark, "events", sf_dir).filter(
        F.col("user_id").isNotNull()
    )
    for i in range(3):
        (
            ev.filter(F.col("event_id") % 3 == i)
            .select("user_id")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(src_dir, f"part-{i}"))
        )

    stream = (
        spark.readStream.schema("user_id long")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src_dir)
    )

    def fold(batch_df, batch_id):
        sk.hll_build(batch_df, "user_id").withColumn(
            "batch_id", F.lit(batch_id)
        ).write.mode("append").parquet(regs_dir)

    with bounded_stream_shuffle(spark):
        q = (
            stream.writeStream.foreachBatch(fold)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    appended = spark.read.parquet(regs_dir)
    n_batches = appended.select("batch_id").distinct().count()
    merged = sk.hll_merge(appended.select("idx", "m"))
    est = sk.hll_estimate(merged)
    exact = ev.select("user_id").distinct().count()
    return est.select(
        F.lit(n_batches).cast("long").alias("n_batches"),
        F.lit(exact).cast("long").alias("n_exact"),
        "hll_estimate",
        "n_zero_registers",
        F.expr(
            f"CAST(abs(hll_estimate - {exact}) * 1000000 DIV {exact} AS BIGINT)"
        ).alias("rel_error_ppm"),
    )
