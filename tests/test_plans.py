"""Physical-plan regression audit over the whole catalog.

Guards the scale properties that correctness tests can't see:

- no accidental cartesian products;
- broadcast nested-loop joins only where they are the *design* (tiny
  broadcast side: brute-force ANN probes, IVF centroid assignment);
- no expensive expression (higher-order lambda / from_json /
  array_distinct) leaked into a scan filter — the Catalyst
  re-evaluation cliff (see functions/arrays.py) that cost 10-30× before
  the plan barriers were added.
"""

from __future__ import annotations

import re

import pytest

from end_end_data_pipeline__spark.plans.catalog import load_all
from scripts.plan_lock import SKIP
from tests.conftest import SF_SMOKE

# deliberate broadcast nested-loop joins (tiny broadcast side)
BNLJ_OK = {
    "embedding_cosine_topk",
    "embedding_ann_ivf_topk",
    # same nearest-centroid assignment as IVF: a 16-row broadcast side
    "corpus_semantic_dedup",
    # groups x top-1000-vocab grid: a bounded broadcast cross by design
    "corpus_source_drift",
    # 1-row broadcast scalar attaches (lit-key join constant-folds to
    # a trivially-true condition): den / W / threshold-grid frames
    "timeseries_acf_lags",
    "text_pmi_collocations",
    "corpus_vocab_growth_curve",
    # ... and datagen's max_cust frame (the any-customer counterparty
    # draw in sources/datagen.py)
    "banking_generator_fanout",
    # sources x sources pair grid (s1 < s2): bounded at n_sources²,
    # joined against bottom-k SKETCHES only — by design
    "sketch_kmv_jaccard",
}

EXPENSIVE_IN_SCAN = re.compile(
    r"DataFilters: \[[^\]]*(transform\(|aggregate\(|from_json|array_distinct)"
)


@pytest.fixture(scope="module")
def all_plans(catalog_pass):
    """(name, dry executed plan) for every dry-plannable query, read
    from the shared catalog pass (tests/conftest.py)."""
    out = []
    for name, run in catalog_pass.items():
        if name in SKIP:
            continue
        run.check_built(name)
        out.append((name, run.plan))
    return out


def test_no_cartesian_products(all_plans):
    bad = [n for n, p in all_plans if "CartesianProduct" in p]
    assert not bad, bad


def test_bnlj_only_by_design(all_plans):
    bad = [
        n
        for n, p in all_plans
        if "BroadcastNestedLoopJoin" in p and n not in BNLJ_OK
    ]
    assert not bad, bad


# Queries allowed to feed a Sort/Window from an Exchange
# SinglePartition: every entry's single-task input is PROVABLY BOUNDED
# (a k-row cut, an enum grid, or a per-bucket summary frame) — never
# fact-scaled or spine-scaled.  The fact-scaled offenders (VERDICT r06
# "wrong" #2: ml_decile_lift's population ntile, the equi-depth
# histogram, the KS/MWU CDF spines, plus pareto's part spine and the
# vocabulary ranking found by the r07 sweep) were rewired through
# operators/scale.{ordered_prefix_sums,global_ntile} and rank-after-
# limit and must stay out of this list.
GLOBAL_SP_OK = {
    # pruned skyline survivor set (dominance-filtered, ≪ input)
    "skyline_part_price_size",
    # bootstrap replicate grid: B × strata rows (fixed B)
    "stats_bootstrap_ci_order_value",
    # 10-row decile summary cum/lift window (post-global_ntile)
    "ml_decile_lift",
    # daily-series spines: ≤ |days| rows by construction
    "timeseries_acf_lags",
    "control_chart_xmr_signals",
    "timeseries_rolling_median_7d",
    # 9-digit Benford frame
    "fraud_benford_digit_audit",
    # per-100k-id-bucket bounds frame (n / 100_000 rows)
    "integrity_sequence_gaps",
    # source × language chi-square grid
    "corpus_source_lang_chisq",
}


def test_global_single_partition_only_by_design(all_plans):
    """No Sort/Window may consume an ``Exchange SinglePartition``
    unless the query is allowlisted with a boundedness argument above.
    This is the guard that keeps the exact-rank family on the
    distributed schemes: a reintroduced global ORDER BY window over
    fact- or spine-scaled input fails here instead of shipping.
    (Scalar/final aggregates over SinglePartition exchanges are fine —
    their inputs are partial-agg rows — and are not matched.)"""
    def depth(ln: str) -> int:
        # tree-prefix length: ':  ' / '+- ' nesting chars only — the
        # codegen star '*(2) ' sits AFTER the prefix and must not count
        return len(ln) - len(ln.lstrip(":+- "))

    def op(ln: str) -> str:
        # operator name with any '*(N) ' codegen marker stripped, so a
        # codegen'd '*(2) Sort [...]' is still recognized as a Sort
        return re.sub(r"^\*?\(\d+\)\s*", "", ln.lstrip(":+- "))

    bad = []
    for n, p in all_plans:
        lines = p.splitlines()
        for i, ln in enumerate(lines):
            if "Exchange SinglePartition" not in ln:
                continue
            # the exchange's CONSUMER is its direct parent: the nearest
            # line above at strictly shallower tree depth (a fixed-size
            # upward window could cross into a sibling subtree and
            # misattribute a sibling's Sort to this exchange)
            d = depth(ln)
            for j in range(i - 1, -1, -1):
                if not lines[j].strip():
                    continue
                if depth(lines[j]) < d:
                    s = op(lines[j])
                    if s.startswith(("Sort [", "Window [", "WindowGroupLimit")):
                        if n not in GLOBAL_SP_OK:
                            bad.append((n, s[:60]))
                    break
    assert not bad, bad


def test_no_expensive_exprs_in_scan_filters(all_plans):
    bad = [
        n
        for n, p in all_plans
        if any(EXPENSIVE_IN_SCAN.search(line) for line in p.splitlines())
    ]
    assert not bad, bad


def test_nested_struct_pruning_and_pushdown(spark):
    """The nested-address query must read ONLY address.country from the
    struct (nested schema pruning) and push the country filter into the
    scan's DataFilters — not materialize the whole struct per row."""
    q = load_all()["nested_address_country_rollup"]
    df = q.fn(spark, SF_SMOKE)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "address:struct<country:string>" in plan, plan
    assert "street" not in plan  # other subfields pruned away
    raw = df._jdf.queryExecution().executedPlan().toString()
    data_filters = [l for l in raw.splitlines() if "DataFilters" in l]
    assert any("address" in l and "country" in l for l in data_filters), data_filters


def test_dim_joins_broadcast(spark):
    """The geo rollup chains three dimension joins — every one of them
    must broadcast (no shuffle exchange on the dim side)."""
    q = load_all()["join_geo_rollup"]
    plan = q.fn(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_reused_exchange_in_self_join_plan(spark):
    """Self-referencing aggregates must REUSE the shuffled exchange,
    not recompute it — the plan-level sign Spark dedups identical
    subtrees (matters when a mart references the same rollup twice)."""
    from pyspark.sql import functions as F

    from end_end_data_pipeline__spark.sources import lake
    from tests.conftest import SF_SMOKE

    orders = lake.load_table(spark, "orders", SF_SMOKE)
    per_cust = orders.groupBy("o_custkey").agg(
        F.count("*").alias("n"), F.sum("o_totalprice").alias("s")
    )
    joined = per_cust.alias("a").join(
        per_cust.alias("b"), F.col("a.o_custkey") == F.col("b.o_custkey")
    )
    joined.collect()  # AQE finalizes the physical plan on execution
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan or "ReusedQueryStage" in plan, plan


def test_observe_metrics_surface(spark):
    """df.observe(): per-query metrics ride the execution (no second
    scan) — the monitoring hook a production pipeline attaches to
    every sink write."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from end_end_data_pipeline__spark.sources import lake
    from tests.conftest import SF_SMOKE

    orders = lake.load_table(spark, "orders", SF_SMOKE)
    obs = Observation("orders_metrics")
    observed = orders.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(25,6)")).cast("double").alias("total"),
        F.count(F.when(F.col("o_totalprice") <= 0, 1)).alias("nonpositive"),
    )
    n = observed.filter(F.col("o_orderstatus") == "F").count()
    metrics = obs.get
    assert metrics["n_rows"] == orders.count()  # observed BEFORE the filter
    assert metrics["nonpositive"] == 0
    assert metrics["total"] > 0 and n > 0


def test_analyze_table_feeds_cbo_stats(spark, tmp_path):
    """ANALYZE TABLE COMPUTE STATISTICS lands row/size stats in the
    catalog — what the cost-based optimizer keys broadcast and join
    ordering from when AQE's runtime stats are not yet available."""
    from pyspark.sql import functions as F

    name = "t_cbo_stats"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.range(10_000).select(
        F.col("id"), (F.col("id") % 100).alias("k")
    ).write.saveAsTable(name)
    try:
        spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS FOR COLUMNS k")
        desc = spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
        stats_row = [r for r in desc if r["col_name"] == "Statistics"]
        assert stats_row and "rows" in stats_row[0]["data_type"]
        coldesc = spark.sql(f"DESCRIBE EXTENDED {name} k").collect()
        got = {r["info_name"]: r["info_value"] for r in coldesc}
        assert got.get("distinct_count") not in (None, "NULL")
        assert int(got["distinct_count"]) > 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_sorted_export_uses_range_partitioning(spark, tmp_path):
    """A globally-sorted export must sample-range-partition (parallel
    sort), not single-partition sort, and each output file must be
    internally ordered with disjoint ranges — the layout that makes
    downstream merge reads and binary-search skipping possible."""
    import glob

    from pyspark.sql import functions as F

    from end_end_data_pipeline__spark.sources import lake
    from tests.conftest import SF_SMOKE

    orders = lake.load_table(spark, "orders", SF_SMOKE)
    out = str(tmp_path / "sorted")
    q = orders.repartitionByRange(4, "o_orderdate", "o_orderkey").sortWithinPartitions(
        "o_orderdate", "o_orderkey"
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower(), plan
    q.write.parquet(out)
    files = sorted(glob.glob(out + "/part-*.parquet"))
    assert len(files) == 4
    bounds = []
    for f in files:
        pdf = spark.read.parquet(f).select("o_orderdate", "o_orderkey").toPandas()
        keys = list(zip(pdf["o_orderdate"], pdf["o_orderkey"]))
        assert keys == sorted(keys), f  # internally ordered
        bounds.append((keys[0], keys[-1]))
    bounds.sort()
    for (lo1, hi1), (lo2, hi2) in zip(bounds, bounds[1:]):
        assert hi1 <= lo2  # disjoint ranges across files


def test_join_strategy_hints_are_respected(spark):
    """The three join-strategy hints must land in the physical plan —
    the manual override for when AQE/CBO guesses wrong."""
    from pyspark.sql import functions as F

    from end_end_data_pipeline__spark.sources import lake
    from tests.conftest import SF_SMOKE

    orders = lake.load_table(spark, "orders", SF_SMOKE)
    cust = lake.load_table(spark, "customer", SF_SMOKE)

    def plan_of(hint):
        j = orders.join(cust.hint(hint), orders.o_custkey == cust.c_custkey)
        return j._jdf.queryExecution().executedPlan().toString()

    assert "BroadcastHashJoin" in plan_of("broadcast")
    assert "ShuffledHashJoin" in plan_of("shuffle_hash")
    assert "SortMergeJoin" in plan_of("merge")


def test_runtime_bloom_filter_injection(spark):
    """Runtime row-level filtering: a selective dim-side filter must
    inject a bloom filter (`might_contain`) on the fact side of a
    shuffle join, pre-filtering fact rows BEFORE the shuffle — the
    row-granular sibling of dynamic partition pruning.  At 100 TB a
    95%-selective dim predicate means the fact shuffle carries 5% of
    the bytes.  Thresholds are lowered because the sf0.001 fixture is
    below the production defaults (10 MB creation / 10 GB scan)."""
    from pyspark.sql import functions as F

    from end_end_data_pipeline__spark.sources import lake
    from tests.conftest import SF_SMOKE

    overrides = {
        # force a shuffle join: broadcast joins don't need the filter
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    saved = {k: spark.conf.get(k, None) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        lineitem = lake.load_table(spark, "lineitem", SF_SMOKE)
        orders = lake.load_table(spark, "orders", SF_SMOKE)
        dim = orders.filter(F.col("o_orderpriority") == "1-URGENT")
        joined = lineitem.join(dim, lineitem.l_orderkey == dim.o_orderkey)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan
        # and the filtered join still computes the exact answer
        want = (
            lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
            .filter(F.col("o_orderpriority") == "1-URGENT")
            .count()
        )
        assert joined.count() == want
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_dynamic_partition_pruning(spark, tmp_path):
    """Dynamic partition pruning: a filter that only exists on the DIM
    side must prune the partitioned FACT's directories at runtime (the
    dynamicpruning subquery in PartitionFilters) — at 100 TB this is
    the difference between scanning one month and scanning the table."""
    from pyspark.sql import functions as F

    from end_end_data_pipeline__spark.sources import lake
    from tests.conftest import SF_SMOKE

    fact_p = str(tmp_path / "fact")
    orders = lake.load_table(spark, "orders", SF_SMOKE)
    orders.withColumn(
        "order_month", F.date_format("o_orderdate", "yyyy-MM")
    ).write.partitionBy("order_month").parquet(fact_p)
    fact = spark.read.parquet(fact_p)
    # the dim must come from STORAGE: a local-relation dim would be
    # constant-folded into a static partition filter (also good, but
    # not the runtime pruning under test)
    dim_p = str(tmp_path / "dim")
    fact.select("order_month").distinct().withColumn(
        "kind", F.when(F.col("order_month") == "1995-06", "H").otherwise("C")
    ).write.parquet(dim_p)
    months = spark.read.parquet(dim_p)
    joined = fact.join(months.filter("kind = 'H'"), "order_month")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan
    # and it computes the right answer
    want = orders.filter(
        F.date_format("o_orderdate", "yyyy-MM") == "1995-06"
    ).count()
    assert joined.count() == want


def test_checkpoint_capture_refuses_nesting():
    """``plan_lock.capture_checkpoint_children`` patches
    ``DataFrame.localCheckpoint`` process-wide: a second entry while
    the patch is active raises instead of stacking patches, and the
    original method is back after both exits."""
    from scripts.plan_lock import capture_checkpoint_children

    try:
        import pyspark.sql.classic.dataframe as pdf
    except ImportError:  # pre-4.0 layout
        import pyspark.sql.dataframe as pdf

    orig = pdf.DataFrame.localCheckpoint
    with capture_checkpoint_children():
        assert pdf.DataFrame.localCheckpoint is not orig
        with pytest.raises(RuntimeError, match="already active"):
            with capture_checkpoint_children():
                pass
        assert pdf.DataFrame.localCheckpoint is not orig
    assert pdf.DataFrame.localCheckpoint is orig
