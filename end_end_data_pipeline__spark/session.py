"""SparkSession factory with scale-aware defaults.

Local mode is a correctness harness; the conf below is written for the
real target — a multi-executor cluster reading ~100 TB — and degrades
gracefully on ``local[N]``:

- AQE on (runtime re-plan: partition coalescing, skew-join splitting,
  dynamic broadcast) — the primary defense against skewed keys and
  stale size estimates at scale.
- ``spark.sql.shuffle.partitions`` sized via env (defaults to local
  cores); on a cluster AQE coalesces the excess, so a high static
  number is safe.
- Arrow enabled so any pandas-UDF path is vectorized batch transfer.
- Session timezone pinned UTC: parquet timestamps compare bit-for-bit
  against the DuckDB oracle (naive-UTC).
- Codegen cache at 4096 classes, not Spark's 100: a perfbench
  ``lake_analytics`` pass generates 211-220 distinct classes and one
  visit of the sf0.01 catalog over 3,200, so at 100 every visit
  recompiled nearly all of them (a lake pass: 168-195 compiles,
  1.2-1.6 s of Janino; now 0 after the first).  Holding the catalog's
  classes costs about 25 MB of metaspace and 100-110 MB of heap after
  GC.  The conf is static (read once per JVM at its first compile), so
  a session built outside ``get_spark`` — the driver harness brings its
  own — keeps Spark's 100.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)


@contextmanager
def bounded_stream_shuffle(spark: SparkSession, n: int = 32):
    """Pin ``spark.sql.shuffle.partitions`` for the duration of a
    micro-batch stream execution, then restore the caller's value.

    A streaming stateful operator materializes ONE STATE STORE PER
    SHUFFLE PARTITION at query start, and AQE never re-plans a stream —
    so a fixture-scale stream under a vanilla 200-partition session
    pays 200 state-store checkpoint round-trips per micro-batch
    (measured: the sf0.01 stream-stream join runs 26.8 s at 200
    partitions vs 2.5 s at 8; the work is per-store fixed cost, not
    data).  Batch queries never need this — AQE coalesces their
    shuffles — and results are partition-count-invariant either way
    (INVARIANCE_r07 ran the whole catalog at 7).  On a real cluster
    raise ``n`` toward the executor-core count: state-store
    parallelism is the scale-out axis for high-throughput streams, and
    the fixed per-store cost amortizes once micro-batches carry real
    data volume.
    """
    with pinned_conf(spark, "spark.sql.shuffle.partitions", str(n)):
        yield


@contextmanager
def pinned_conf(spark: SparkSession, key: str, value: str):
    """Set one session conf for the duration of a block, then restore
    the caller's value.  Blocks that overlap on one session from
    several threads are not supported: the later exit would restore
    the value the other block set."""
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, old)


def session_parallelism(spark: SparkSession) -> int:
    """Partition width for explicit ``repartition()`` calls that exist
    to parallelize a Python stage (e.g. the phash codec over the
    one-split documents fixture).

    Reads ``spark.sql.shuffle.partitions`` — an explicitly pinned,
    host-portable conf — rather than ``defaultParallelism``, which
    embeds the machine's core count into the physical plan (ADVICE
    r09: identical code should plan identically across hosts).  Falls
    back to ``defaultParallelism`` only when the conf is non-numeric
    (e.g. "auto" on AQE-managed deployments)."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:
        return spark.sparkContext.defaultParallelism


def codegen_compiles(spark: SparkSession) -> tuple[int, float]:
    """Janino compiles in this JVM so far and their summed seconds
    (``CodegenMetrics`` and ``CodeGenerator.compileTime``); a cache hit
    counts neither.  Take the difference over a block to see what it
    compiled."""
    jvm = spark._jvm
    n = jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME().getCount()
    ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen \
        .CodeGenerator.compileTime()
    return n, ns / 1e9


def get_spark(
    app_name: str = "end_end_data_pipeline__spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` so the same
    entry points run unchanged under the driver harness and on a real
    cluster (where ``master`` comes from spark-submit and this arg is
    left None with ``SPARK_MASTER`` unset).
    """
    cpus = DEFAULT_CPUS
    if master is None:
        master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # mirrors the reference's ~128 MiB object-store part target;
        # keeps scan tasks uniform at 100 TB (≈ 800k tasks, fine for
        # a 1000-executor cluster with AQE coalescing)
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        # working set: 211-220 generated classes per lake_analytics
        # pass, over 3,200 per sf0.01 catalog visit (module docstring)
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # RocksDB state commits default to FULL-snapshot checkpointing:
        # flush + SST copy + fsync of every store file per micro-batch
        # commit.  Measured at the 100x sessionize tier
        # (SESSIONIZE_PROFILE_r11.json): that fsync storm is the whole
        # RocksDB anomaly — 150-165 s summed rocksdbCommitFileSyncLatency
        # in stalled batches (intermittent, IO-contention-sensitive,
        # 2-3x batch-time spikes) vs 5-13 s with changelog checkpointing,
        # which appends the batch delta and snapshots in the background
        # maintenance thread instead.  Output hash-identical; recovery
        # replays changelog over the last snapshot.
        .config(
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled", "true")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
    )
    if master.startswith("local"):
        builder = builder.config(
            "spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g")
        )
    else:
        # cluster mode: the static shuffle-partition count above is the
        # SUBMITTING host's core count — a number AQE can coalesce DOWN
        # from but never raise, so without this every 100 TB shuffle
        # would run with a laptop's worth of reducers.  A high
        # initialPartitionNum restores the documented "oversized static
        # + AQE coalescing is free" posture (BASELINE shuffle study);
        # local mode keeps the measured cores=partitions default.
        builder = builder.config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            os.environ.get("SPARK_GRAFT_INITIAL_PARTITIONS", "2000"),
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
