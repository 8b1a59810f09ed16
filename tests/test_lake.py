"""Lake layer tests: partitioned write layout, compaction, and the
partition-pruning contract they exist for."""

from __future__ import annotations

import glob
import os

import pytest

from pyspark.sql import functions as F

from end_end_data_pipeline__spark.sources import lake
from tests.conftest import SF_SMOKE


def _data_files(path: str) -> list[str]:
    return glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)


def test_write_date_partitioned_layout(spark, tmp_path):
    path = str(tmp_path / "orders_lake")
    orders = lake.load_table(spark, "orders", SF_SMOKE)
    # the first 90 days: at most 90 date= dirs show the layout as well
    # as the full span's ~1,100 would, at a fraction of the write cost
    first = orders.agg(F.min("o_orderdate")).first()[0]
    orders = orders.filter(
        F.col("o_orderdate") < F.date_add(F.lit(first), 90)
    )
    lake.write_date_partitioned(
        orders, path, ts_col="o_orderdate", sort_cols=("o_custkey",), mode="overwrite"
    )
    parts = [d for d in os.listdir(path) if d.startswith("date=")]
    assert parts, "expected Hive date= partition dirs"
    back = spark.read.parquet(path)
    assert back.count() == orders.count()


def test_compaction_reduces_files_preserves_rows(spark, tmp_path):
    path = str(tmp_path / "small_files")
    # few partitions, many writers — the reference's pathology (one file
    # per 50-record flush into each date dir)
    orders = lake.load_table(spark, "orders", SF_SMOKE).withColumn(
        "date", F.expr("date_add(DATE'2024-01-01', CAST(o_orderkey % 3 AS INT))")
    )
    orders.repartition(40).write.mode("overwrite").partitionBy("date").parquet(path)
    before_files = len(_data_files(path))
    before_rows = spark.read.parquet(path).count()
    assert before_files > 50  # 40 tasks × 3 dates produce a mess

    lake.compact(spark, path, target_file_bytes=1 << 20)
    after_files = len(_data_files(path))
    after = spark.read.parquet(path)
    assert after.count() == before_rows
    assert after_files < before_files / 3, (before_files, after_files)
    # partition dirs survive compaction (dynamic overwrite)
    assert any(d.startswith("date=") for d in os.listdir(path))


def test_partition_pruning_after_compaction(spark, tmp_path):
    path = str(tmp_path / "pruned")
    # month partitions: pruning works the same as on days, with ~80
    # directories to write instead of ~1,100
    orders = lake.load_table(spark, "orders", SF_SMOKE).withColumn(
        "date", F.trunc("o_orderdate", "month")
    )
    orders.write.mode("overwrite").partitionBy("date").parquet(path)
    one_date = spark.read.parquet(path).select("date").first()["date"]
    q = spark.read.parquet(path).filter(F.col("date") == F.lit(one_date))
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    # the partition filter must actually appear (not an empty list)
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert pf.strip(), "partition filter was not pushed"


def test_zorder_prunes_both_dimensions(spark, tmp_path):
    """Z-order vs single-column sort, measured on parquet row-group
    stats (via pyarrow): for a 2-D range predicate, the Z-ordered
    layout must let min/max stats skip row groups on BOTH columns,
    while the (a)-sorted layout cannot prune on b."""
    import pyarrow.parquet as pq

    orders = lake.load_table(spark, "orders", SF_SMOKE).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )

    linear, zpath = str(tmp_path / "linear"), str(tmp_path / "zorder")
    (
        orders.repartitionByRange(8, "o_custkey")
        .sortWithinPartitions("o_custkey")
        .write.mode("overwrite").parquet(linear)
    )
    lake.zorder_layout(orders, ["o_custkey", "o_totalprice"], zpath, n_files=8)

    lo, hi = 100.0, 20000.0  # narrow band on the SECOND column
    def groups_overlapping(path):
        import glob
        total = hit = 0
        for f in glob.glob(path + "/*.parquet"):
            meta = pq.ParquetFile(f).metadata
            for g in range(meta.num_row_groups):
                col = next(
                    meta.row_group(g).column(i)
                    for i in range(meta.row_group(g).num_columns)
                    if meta.row_group(g).column(i).path_in_schema == "o_totalprice"
                )
                total += 1
                st = col.statistics
                if st is None or (st.min <= hi and st.max >= lo):
                    hit += 1
        return hit, total

    z_hit, z_total = groups_overlapping(zpath)
    l_hit, l_total = groups_overlapping(linear)
    # the custkey-sorted layout can't prune on totalprice: every group overlaps
    assert l_hit == l_total
    # the Z-ordered layout must skip at least one row group on totalprice
    assert z_hit < z_total, (z_hit, z_total)
    # correctness: both layouts return identical rows for the 2-D predicate
    q = lambda p: sorted(
        r["o_orderkey"]
        for r in spark.read.parquet(p)
        .filter((F.col("o_totalprice") >= lo) & (F.col("o_totalprice") <= hi)
                & (F.col("o_custkey") < 500))
        .collect()
    )
    assert q(zpath) == q(linear)


def test_zorder_file_count_size_derived(spark, tmp_path):
    """Without an explicit n_files the layout targets
    ~target_file_bytes per file: a small table collapses to one file,
    and shrinking the target must grow the file count accordingly
    (the fixed-count failure mode was 8 files regardless of size)."""
    import glob

    orders = lake.load_table(spark, "orders", SF_SMOKE).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    one = str(tmp_path / "one")
    lake.zorder_layout(orders, ["o_custkey", "o_totalprice"], one)
    assert len(glob.glob(one + "/*.parquet")) == 1  # ~40KB table, 128MiB target

    many = str(tmp_path / "many")
    lake.zorder_layout(
        orders, ["o_custkey", "o_totalprice"], many, target_file_bytes=2 * 1024
    )
    files = glob.glob(many + "/*.parquet")
    assert len(files) > 2, files
    # and the produced files actually land near the target (within the
    # 3x-compression guess band, not order-of-magnitude off)
    import os as _os

    sizes = [_os.path.getsize(f) for f in files]
    assert max(sizes) < 40 * 2 * 1024, sizes


def test_load_table_bad_sf_dir_fails_cleanly(spark):
    """A wrong sf_dir must surface as Spark's PATH_NOT_FOUND analysis
    error — not a partial empty result or an opaque java stack."""
    import pytest
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        lake.load_table(spark, "orders", "/root/testdata/sf-does-not-exist").count()


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """The co-located-join layout: both sides bucketed+sorted on the
    join key with equal bucket counts -> the join plans with ZERO
    shuffle exchanges and no extra sort, and results equal the plain
    join.  This is the write-once/shuffle-never contract that matters
    at 100 TB."""
    from pyspark.sql import functions as F

    orders = lake.load_table(spark, "orders", SF_SMOKE).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    li = lake.load_table(spark, "lineitem", SF_SMOKE).select(
        "l_orderkey", "l_extendedprice"
    )
    try:
        lake.write_bucketed_at(
            orders, "b_orders", str(tmp_path / "bo"), ["o_orderkey"],
            n_buckets=8, sort_cols=["o_orderkey"],
        )
        lake.write_bucketed_at(
            li, "b_lineitem", str(tmp_path / "bl"), ["l_orderkey"],
            n_buckets=8, sort_cols=["l_orderkey"],
        )
        bo, bl = spark.table("b_orders"), spark.table("b_lineitem")
        joined = bo.join(bl, bo.o_orderkey == bl.l_orderkey).groupBy(
            "o_orderkey"
        ).agg(F.count("*").alias("n"))
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        plan = plan.split("== Initial Plan ==")[0]
        assert "Exchange hashpartitioning" not in plan, plan
        # parity with the unbucketed join
        base = orders.join(li, orders.o_orderkey == li.l_orderkey).groupBy(
            "o_orderkey"
        ).agg(F.count("*").alias("n"))
        got = {r["o_orderkey"]: r["n"] for r in joined.collect()}
        want = {r["o_orderkey"]: r["n"] for r in base.collect()}
        assert got == want
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


# ------------------------------------------------------- multi-format


def test_format_roundtrip_exact_including_micros(spark, tmp_path):
    """Every supported format must return the EXACT rows written —
    including microsecond timestamps through the text formats."""
    from end_end_data_pipeline__spark.sources import formats as FM

    df = spark.createDataFrame(
        [
            (1, 3.14159, "a", "2024-01-02 03:04:05.123456"),
            (2, -0.1, None, "2024-06-30 23:59:59.999999"),
            (3, 1e-7, "c", None),
        ],
        "id long, x double, s string, ts string",
    ).select("id", "x", "s", F.col("ts").cast("timestamp").alias("ts"))
    want = sorted(map(tuple, df.collect()))
    for fmt in FM.FORMATS:
        path = str(tmp_path / fmt)
        FM.write_files(df, path, fmt)
        back = FM.read_files(spark, path, fmt, df.schema)
        assert sorted(map(tuple, back.collect())) == want, fmt
        assert back.schema == df.schema, fmt


def test_format_read_requires_schema(spark, tmp_path):
    from end_end_data_pipeline__spark.sources import formats as FM

    with pytest.raises(ValueError, match="schema is required"):
        FM.read_files(spark, str(tmp_path), "csv", None)
    with pytest.raises(ValueError, match="unsupported format"):
        FM.read_files(spark, str(tmp_path), "avro", "id long")


def test_orc_scan_pushes_filters_and_prunes_columns(spark, tmp_path):
    """ORC is a real columnar lake format: the scan plan must show the
    filter pushed into the reader and only the projected columns read."""
    from end_end_data_pipeline__spark.sources import formats as FM

    df = spark.range(1000).select(
        F.col("id"), (F.col("id") * 2).alias("v"), F.lit("pad").alias("pad")
    )
    path = str(tmp_path / "orc")
    FM.write_files(df, path, "orc")
    back = FM.read_files(spark, path, "orc", df.schema)
    plan = (
        back.filter(F.col("id") > 500).select("v")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters: [IsNotNull(id), GreaterThan(id,500)]" in plan
    assert "ReadSchema: struct<id:bigint,v:bigint>" in plan
