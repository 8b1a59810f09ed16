"""Custom connector via the Python Data Source API (PySpark 4):
a partition-parallel, filter-pushdown-capable re-implementation of
the reference's row generator as a first-class Spark SOURCE.

The reference generates banking rows with a single-threaded psycopg2
loop at ~275 rows/s (reference ``data-generator/generator.py:168-208``,
config ceiling in BASELINE.md).  Here the same domain surfaces as a
``spark.read.format("banking_gen")`` table: the scan plans N input
partitions, every executor synthesizes its slice vectorized with
numpy into Arrow RecordBatches (no per-row Python), and supported
predicates are PUSHED INTO the generator so filtered reads never
materialize non-matching rows.

All columns are deterministic integer arithmetic on the row id, so a
SQL oracle can restate the whole table with ``generate_series`` —
the same verifiability trick as the fixture embeddings.

Usage::

    spark.dataSource.register(BankingGeneratorDataSource)
    df = (spark.read.format("banking_gen")
          .option("n_rows", 20000).option("n_partitions", 8).load())

CAVEAT (API behavior, asserted in tests/test_connectors.py): a loaded
DataFrame's plan caches its reader INSTANCE, and ``pushFilters``
mutates it — reusing one ``load()`` result across differently-filtered
queries would leak the first query's pushed filters into the second.
Build one ``load()`` per query.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    EqualTo,
    Filter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

TXN_TYPES = (
    "DEPOSIT", "WITHDRAWAL", "TRANSFER", "PAYMENT", "REFUND", "FEE", "INTEREST",
)
# reference generator.py:49-54 — 85/8/4/3 status mix
STATUS_BOUNDS = ((85, "COMPLETED"), (93, "PENDING"), (97, "FAILED"), (100, "CANCELLED"))

_SCHEMA_DDL = (
    "id long, account_id long, txn_type string, status string,"
    " amount double, created_us long"
)


class _GenPartition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


class BankingGeneratorReader(DataSourceReader):
    def __init__(self, options):
        self.n_rows = int(options.get("n_rows", 10_000))
        self.n_partitions = int(options.get("n_partitions", 8))
        self.eq_filters: dict[str, str] = {}

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Accept EqualTo on the two categorical columns (applied
        inside the generator — non-matching rows are never built);
        everything else is returned for Spark to evaluate."""
        for f in filters:
            if isinstance(f, EqualTo) and f.attribute[0] in ("txn_type", "status"):
                self.eq_filters[f.attribute[0]] = f.value
            else:
                yield f

    def partitions(self) -> Sequence[InputPartition]:
        chunk = -(-self.n_rows // self.n_partitions)  # ceil
        return [
            _GenPartition(i * chunk, min((i + 1) * chunk, self.n_rows))
            for i in range(self.n_partitions)
            if i * chunk < self.n_rows
        ]

    def read(self, partition: _GenPartition):
        import numpy as np
        import pyarrow as pa

        ids = np.arange(partition.start, partition.end, dtype=np.int64)
        txn_idx = ids % 7
        status_pct = ids % 100
        keep = np.ones(len(ids), dtype=bool)
        if "txn_type" in self.eq_filters:
            keep &= txn_idx == TXN_TYPES.index(self.eq_filters["txn_type"])
        if "status" in self.eq_filters:
            lo, hi = 0, 100
            for bound, name in STATUS_BOUNDS:
                if name == self.eq_filters["status"]:
                    hi = bound
                    break
                lo = bound
            keep &= (status_pct >= lo) & (status_pct < hi)
        ids = ids[keep]
        txn_idx = txn_idx[keep]
        status_pct = status_pct[keep]
        status = np.empty(len(ids), dtype=object)
        lo = 0
        for bound, name in STATUS_BOUNDS:
            status[(status_pct >= lo) & (status_pct < bound)] = name
            lo = bound
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(ids, pa.int64()),
                pa.array((ids * 7919) % 1000 + 1, pa.int64()),
                pa.array([TXN_TYPES[i] for i in txn_idx], pa.string()),
                pa.array(status, pa.string()),
                pa.array(((ids * 31 + 7) % 1_000_000).astype(np.float64) / 100.0),
                pa.array(1_700_000_000_000_000 + ids * 1_000_000, pa.int64()),
            ],
            names=["id", "account_id", "txn_type", "status", "amount", "created_us"],
        )


class BankingGeneratorDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "banking_gen"

    def schema(self) -> str | StructType:
        return _SCHEMA_DDL

    def reader(self, schema: StructType) -> DataSourceReader:
        return BankingGeneratorReader(self.options)


def register(spark) -> None:
    """Idempotent registration of the ``banking_gen`` format.  Python
    data-source filter pushdown is opt-in (off by default); a reader
    that implements ``pushFilters`` REFUSES to run without it, so the
    flag is enabled here (runtime-settable, scoped to Python sources)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(BankingGeneratorDataSource)


class BankingGeneratorStreamReader(SimpleDataSourceStreamReader):
    """Streaming half of the connector: a replayable micro-batch
    source with EXPLICIT offset management — offsets are row ids, each
    trigger emits the next ``rows_per_batch`` ids up to ``n_rows``,
    and ``readBetweenOffsets`` regenerates any committed range
    byte-identically, which is what makes checkpoint REPLAY exactly
    once (the reference's pipeline has no offset story at all — its
    consumer is fire-and-forget, reference ``consumer/consumer.py:21``).
    """

    def __init__(self, options):
        self.n_rows = int(options.get("n_rows", 10_000))
        self.rows_per_batch = int(options.get("rows_per_batch", 1_000))

    def initialOffset(self) -> dict:
        return {"next_id": 0}

    def _rows(self, start: int, end: int):
        # a LIST, not a generator: the prefetch cache copy.copy()s the
        # returned iterator when slicing committed ranges
        out = []
        for i in range(start, end):
            status_pct = i % 100
            for bound, name in STATUS_BOUNDS:
                if status_pct < bound:
                    status = name
                    break
            out.append(
                (
                    i,
                    (i * 7919) % 1000 + 1,
                    TXN_TYPES[i % 7],
                    status,
                    float((i * 31 + 7) % 1_000_000) / 100.0,
                    1_700_000_000_000_000 + i * 1_000_000,
                )
            )
        return out

    def read(self, start: dict):
        s = start["next_id"]
        e = min(s + self.rows_per_batch, self.n_rows)
        return self._rows(s, e), {"next_id": e}

    def readBetweenOffsets(self, start: dict, end: dict):
        return self._rows(start["next_id"], end["next_id"])


class BankingGeneratorStreamSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "banking_gen_stream"

    def schema(self) -> str:
        return _SCHEMA_DDL

    def simpleStreamReader(self, schema) -> SimpleDataSourceStreamReader:
        return BankingGeneratorStreamReader(self.options)


def register_stream(spark) -> None:
    """Idempotent registration of the ``banking_gen_stream`` format."""
    spark.dataSource.register(BankingGeneratorStreamSource)


@dataclass
class _JsonlCommit(WriterCommitMessage):
    tmp_file: str
    n_rows: int


class JsonlAtomicWriter(DataSourceWriter):
    """Batch WRITER half of the connector surface: an atomic
    JSON-lines sink with the same two-phase protocol as the manifest
    table — every task writes a staging file and reports it in its
    commit message; ``commit`` on the driver renames the staged files
    into place and writes a ``_MANIFEST`` naming exactly the committed
    files (readers list the manifest, never the directory, so a
    crashed or speculative task's orphan staging file is invisible);
    ``abort`` removes the staging dir.  The reference's consumer
    writes lake files with NO commit protocol — a crash mid-flush
    leaves a torn file readers trip over (reference
    ``consumer/consumer.py:44-49``); this sink is the corrected
    design at connector level.

    SINGLE-FILESYSTEM CONTRACT: tasks stage with ``open()`` on the
    executor's local filesystem and the driver renames with
    ``os.replace`` — correct only when driver and executors share one
    local filesystem (local mode, NFS).  On a multi-node cluster or an
    object-store path the staged files would not exist where the
    driver looks (the pitfall ``sources.manifest_table._fs`` avoids
    by going through the Hadoop FileSystem API), so non-local paths are REFUSED up front rather than
    failing after the job's tasks all succeeded — the cluster-grade
    path for this protocol is the manifest table's Hadoop-FS commit."""

    def __init__(self, options, overwrite: bool):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("jsonl_atomic requires a 'path' option")
        if "://" in self.path and not self.path.startswith("file://"):
            raise ValueError(
                "jsonl_atomic stages via the LOCAL filesystem (os.replace "
                f"on the driver) — remote path {self.path!r} is not "
                "supported; use the manifest table for cluster targets"
            )
        self.overwrite = overwrite

    def write(self, iterator) -> _JsonlCommit:
        import json
        import os
        import uuid as _uuid

        from pyspark import TaskContext

        tc = TaskContext.get()
        stage_dir = os.path.join(self.path, "_staging")
        os.makedirs(stage_dir, exist_ok=True)
        tmp = os.path.join(
            stage_dir, f"task-{tc.partitionId()}-{_uuid.uuid4().hex[:8]}.jsonl"
        )
        n = 0
        with open(tmp, "w", encoding="utf-8") as f:
            for row in iterator:
                f.write(json.dumps(row.asDict(), default=str) + "\n")
                n += 1
        return _JsonlCommit(tmp_file=tmp, n_rows=n)

    def commit(self, messages) -> None:
        import json
        import os

        final_files = []
        total = 0
        for m in messages:
            if m is None:
                continue
            dest = os.path.join(self.path, os.path.basename(m.tmp_file))
            os.replace(m.tmp_file, dest)
            final_files.append(os.path.basename(dest))
            total += m.n_rows
        manifest_path = os.path.join(self.path, "_MANIFEST")
        superseded: list[str] = []
        if os.path.exists(manifest_path):
            with open(manifest_path) as f:
                prior = json.load(f)
            if self.overwrite:
                superseded = [
                    fn for fn in prior["files"] if fn not in final_files
                ]
            else:
                # mode("append"): the new manifest carries prior
                # committed files forward — appends accumulate
                final_files.extend(prior["files"])
                total += prior["n_rows"]
        # manifest FIRST, atomically (tmp + rename): a crash at any
        # point leaves either the old or the new manifest fully
        # intact and only then are superseded files removed — readers
        # never see a manifest referencing deleted files or a torn one
        tmp_manifest = manifest_path + ".tmp"
        with open(tmp_manifest, "w") as f:
            json.dump({"files": sorted(final_files), "n_rows": total}, f)
        os.replace(tmp_manifest, manifest_path)
        for fn in superseded:
            try:
                os.remove(os.path.join(self.path, fn))
            except FileNotFoundError:
                pass
        stage = os.path.join(self.path, "_staging")
        if os.path.isdir(stage):
            for leftover in os.listdir(stage):
                os.remove(os.path.join(stage, leftover))
            os.rmdir(stage)

    def abort(self, messages) -> None:
        import os
        import shutil

        shutil.rmtree(os.path.join(self.path, "_staging"), ignore_errors=True)


class JsonlAtomicSink(DataSource):
    @classmethod
    def name(cls) -> str:
        return "jsonl_atomic"

    def writer(self, schema: StructType, overwrite: bool) -> DataSourceWriter:
        return JsonlAtomicWriter(self.options, overwrite)


def read_jsonl_atomic(spark, path: str, schema):
    """Manifest-driven read of a ``jsonl_atomic`` directory: only the
    files the committed ``_MANIFEST`` names are read (orphans from
    crashed tasks are invisible), with the schema pinned."""
    import json
    import os

    with open(os.path.join(path, "_MANIFEST")) as f:
        manifest = json.load(f)
    files = [os.path.join(path, fn) for fn in manifest["files"]]
    if not files:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).json(files)


def register_sink(spark) -> None:
    """Idempotent registration of the ``jsonl_atomic`` sink format."""
    spark.dataSource.register(JsonlAtomicSink)
