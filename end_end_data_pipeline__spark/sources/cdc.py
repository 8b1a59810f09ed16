"""CDC envelope decode + apply (SURVEY.md §2.2 P1-P3, §2.9 ST5).

The reference's consumer keeps only ``payload.after``, drops ``op``,
and appends — so updates become duplicate lake rows and deletes are
silently ignored (reference ``consumer/consumer.py:66-75``).  This
module implements the envelope faithfully *and* fixes the semantics:

- ``parse_envelope``: JSON string → typed envelope struct
  (``from_json`` with the explicit schema — never inferred);
- ``decode``: envelope → change rows (op, ts_ms, key, after image),
  keeping deletes (op='d', before image carries the key);
- ``apply_latest_state``: change rows → current table state via
  latest-wins per key (window dedup) then dropping deletes —
  the MERGE semantics the reference lacks;
- ``route_topics``: one multi-topic stream → per-table DataFrames
  (topic name parsing per reference ``consumer/consumer.py:74``).

All pure DataFrame ops: at scale the only shuffle is the per-key
window in ``apply_latest_state`` (hash on the primary key, AQE-safe).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from end_end_data_pipeline__spark import schemas


def envelope_schema_for(row_schema: T.StructType) -> T.StructType:
    """Debezium-shaped envelope for an arbitrary row schema (schemas
    stripped, per reference ``docker-compose.yml:44-45``)."""
    return T.StructType(
        [
            T.StructField(
                "payload",
                T.StructType(
                    [
                        T.StructField("before", row_schema),
                        T.StructField("after", row_schema),
                        T.StructField("op", T.StringType()),
                        T.StructField("ts_ms", T.LongType()),
                        T.StructField(
                            "source",
                            T.StructType([T.StructField("table", T.StringType())]),
                        ),
                    ]
                ),
            )
        ]
    )


def encode_envelope(
    rows: DataFrame, op_col: str, ts_ms_col: str, table: str
) -> DataFrame:
    """Inverse of parse: wrap rows into envelope JSON strings — the test
    harness's stand-in for Debezium (used to replay CDC without Kafka).
    Produces one column ``value`` (JSON) like the reference's wire
    format (FIXTURES.md §C)."""
    data_cols = [c for c in rows.columns if c not in (op_col, ts_ms_col)]
    after = F.when(
        F.col(op_col) != "d", F.struct(*[F.col(c) for c in data_cols])
    )
    before = F.when(
        F.col(op_col) != "c", F.struct(*[F.col(c) for c in data_cols])
    )
    return rows.select(
        F.to_json(
            F.struct(
                F.struct(
                    before.alias("before"),
                    after.alias("after"),
                    F.col(op_col).alias("op"),
                    F.col(ts_ms_col).alias("ts_ms"),
                    F.struct(F.lit(table).alias("table")).alias("source"),
                ).alias("payload")
            )
        ).alias("value")
    )


def parse_envelope(raw: DataFrame, row_schema: T.StructType, value_col: str = "value") -> DataFrame:
    """JSON string column → typed envelope struct (P1).

    The parse goes through a single-element-array ``explode_safe``: a
    Generate is a hard plan barrier, so ``from_json`` (CodegenFallback —
    interpreted, no common-subexpression elimination) is evaluated
    exactly once per row, instead of being inlined by predicate
    pushdown / CollapseProject into every downstream field reference
    (measured 3-6 evals/row without the barrier).  Rows whose envelope
    fails to parse (null payload) are dropped here — P2's
    malformed/tombstone filter."""
    from end_end_data_pipeline__spark.functions.arrays import explode_safe

    keep = [c for c in raw.columns if c != value_col]
    payload = F.from_json(F.col(value_col), envelope_schema_for(row_schema))["payload"]
    return explode_safe(raw, keep, F.array(payload), "payload")


def decode(parsed: DataFrame, key_cols: list[str]) -> DataFrame:
    """Envelope → change rows: (key..., op, ts_ms, after-image struct).

    Unlike the reference (which drops everything but ``after``,
    reference ``consumer/consumer.py:66-67``), deletes are kept — their
    key comes from the before image so downstream can remove the row.
    Malformed/tombstone events (no payload, or no image at all) are
    filtered (P2)."""
    p = F.col("payload")
    img = F.coalesce(p["after"], p["before"])
    out = parsed.filter(p.isNotNull() & img.isNotNull()).select(
        *[img[k].alias(k) for k in key_cols],
        p["op"].alias("op"),
        p["ts_ms"].alias("ts_ms"),
        p["after"].alias("after"),
    )
    return out


def quote_ident(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier (an embedded
    backtick doubled), so SQL-text expressions take any column name."""
    return "`" + name.replace("`", "``") + "`"


def latest_change_per_key(
    changes: DataFrame, key_cols: list[str], version_col: str = "ts_ms"
) -> DataFrame:
    """The ONE latest-wins collapse: newest change row per key
    (``version_col``, then op-rank for same-version ties: d > u > c),
    DELETES KEPT — sinks that need the delete set (the JDBC upsert)
    and sinks that drop it (:func:`apply_latest_state`) both derive
    from this, so the tie-break semantics live in exactly one place.
    The window is one SQL expression: built from ``Column`` objects it
    costs a py4j round trip per node on every micro-batch."""
    rn = F.expr(
        f"row_number() OVER (PARTITION BY {', '.join(map(quote_ident, key_cols))}"
        f" ORDER BY {quote_ident(version_col)} DESC,"
        " CASE op WHEN 'd' THEN 3 WHEN 'u' THEN 2 ELSE 1 END DESC)"
    )
    return changes.withColumn("__rn", rn).filter("__rn = 1").drop("__rn")


def apply_latest_state(
    changes: DataFrame, key_cols: list[str], version_col: str = "ts_ms"
) -> DataFrame:
    """Latest-wins upsert (ST5): keep the newest change per key
    (``version_col``, then op-rank for same-version ties: d > u > c),
    drop deletes, emit the after-image columns.

    This is the engine's MERGE: one hash shuffle on the key, a
    streaming rank-only window, no driver involvement — works
    identically in ``foreachBatch`` (vs. accumulated state) and in a
    batch replay over the full change log."""
    latest = latest_change_per_key(changes, key_cols, version_col)
    return (
        latest.filter(F.col("op") != "d")
        .select("after.*")
    )


def route_topics(records: DataFrame, tables: list[str], topic_col: str = "topic") -> dict[str, DataFrame]:
    """Demultiplex a multi-topic record stream into per-table frames
    (P3).  Table name = last dot-segment of the topic, matching the
    reference's ``topic.split('.')[-1]`` (``consumer/consumer.py:74``)."""
    table_expr = F.element_at(F.split(F.col(topic_col), r"\."), -1)
    tagged = records.withColumn("__table", table_expr)
    return {t: tagged.filter(F.col("__table") == t).drop("__table") for t in tables}


def silver_banking(df: DataFrame, table: str) -> DataFrame:
    """CDC wire types → lake types for a banking table: epoch-micros →
    timestamp, double money → DECIMAL(18,2) (the decimal policy fixing
    ``decimal.handling.mode=double``,
    reference ``Connector_post_and_generate.py:29``)."""
    from end_end_data_pipeline__spark.functions.scalar import micros_to_ts, to_money

    money_cols = {"accounts": ["balance"], "transactions": ["amount"]}.get(table, [])
    out = df
    if "created_at" in df.columns:
        out = out.withColumn("created_at", micros_to_ts("created_at"))
    for c in money_cols:
        out = out.withColumn(c, to_money(c))
    # declared-schema projection, not passthrough: silver columns are a contract
    target = schemas.BANKING[table]
    return out.select(*[F.col(f.name).cast(f.dataType).alias(f.name) for f in target.fields])


def scd2_history(changes: DataFrame, key_cols: list[str]) -> DataFrame:
    """Slowly-changing-dimension type 2: the full change log becomes
    versioned history rows — one row per (key, version) with
    ``valid_from_ms`` / ``valid_to_ms`` / ``is_current``.

    The mart-layer complement to ``apply_latest_state`` (which keeps
    only the latest image): auditing "what did this account look like
    when the txn happened" joins transactions to this table with a
    J7-style range predicate instead of losing history.

    Deletes close the interval without emitting a version row.  One
    window over (key, ts) — same shuffle as the latest-wins apply.
    Same-ts_ms ties order by the SAME op rank as ``apply_latest_state``
    (c < u < d ascending here ≡ d > u > c descending there), so history
    and latest-state agree on which change wins a simultaneous pair —
    e.g. a delete and an update sharing ts_ms: both views resolve to
    the delete."""
    op_rank = (
        F.when(F.col("op") == "d", 3)
        .when(F.col("op") == "u", 2)
        .otherwise(1)
    )
    w = Window.partitionBy(*key_cols).orderBy(F.col("ts_ms"), op_rank)
    versioned = changes.withColumn("__next_ts", F.lead("ts_ms").over(w))
    return (
        versioned.filter(F.col("op") != "d")
        .select(
            *key_cols,
            F.col("after").alias("image"),
            F.col("ts_ms").alias("valid_from_ms"),
            F.col("__next_ts").alias("valid_to_ms"),
            F.col("__next_ts").isNull().alias("is_current"),
        )
    )
