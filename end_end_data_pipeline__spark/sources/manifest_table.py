"""Manifest-committed table (MCT): a minimal transactional layout for
hash-bucketed parquet — the lake's one CDC write path.  A plain-parquet
dynamic overwrite has a non-atomic delete+rename window it can only
detect; a table format is what actually closes it, and with no
Delta/Iceberg available this is the Spark-first equivalent of their
core commit protocol.

Layout::

    target/
      data/v{N}-{token}/p_bucket={b}/part-*.parquet  -- base files
      data/v{N}-{token}/part-*.parquet    -- one delta file
                                             (all immutable once written)
      manifest-v{N}.json   -- {"version": N, "schema": <json>,
                               "buckets": {b: [files]},
                               "stats": {file: {col: [min, max]}},
                               "committed_at": <epoch s>,
                               "operation": <name>,
                               "constraints": {name: <sql>},
                               "n_buckets": n, "key_cols": [cols],
                               "deltas": [{"file": f, "buckets": [b]}]}

Merge-on-read (log-structured, as Hudi/Iceberg v2 merge-on-read
tables): the base files under ``buckets`` hold one row per live key;
``deltas`` lists the pending delta files, oldest first.  A
``merge_versioned`` onto an existing table writes its batch, collapsed
to the latest change per key with tombstones kept, as ONE delta file
sorted by bucket (the table's columns plus ``__op``,
``__commit_version`` and ``p_bucket``), so its cost follows the batch,
not the table.  Every read resolves each key to its newest row across
the base and the pending deltas (a delta row beats the base, a later
delta an earlier one; a winning ``d`` drops the key) before anything
else runs; a version with no pending deltas reads its base files
exactly as a plain scan.  A ``merge_versioned`` that would leave
``_FOLD_AT`` (5, Hudi's inline-compaction default) pending deltas
FOLDS instead: base, deltas and batch go through the bucket rewrite,
and the new version lists no deltas.  Every other base-rewriting
operation (``merge_into``, ``delete_where``/``update_where``,
``compact``, ``rebucket``) folds every pending delta in the same
commit, so every pending delta is always newer than every base file.

Per-file column [min, max] stats of the base files ride in the
manifest (files are immutable, so stats are too — carried forward
untouched for files a commit keeps), giving ``read_where``
Delta-style data skipping on range/point predicates without opening a
single pruned file; see
``compact(cluster_by=...)`` for the layout that makes skipping
selective on an upsert table.  The stats come from the parquet footers
the commit's write produced (one pyarrow pass, no Spark job, no data
read), so table files store timestamps as INT64 epoch micros: Spark's
INT96 default carries no footer min/max (older INT96 files read as
before and are simply never pruned on those columns).  Footers hold
less than a scan would: nested columns get no ``__nulls`` count (the
footer counts leaf nulls, not the column's own), and a string column
chunk whose min plus max exceed parquet-mr's 4 KiB stats limit gets
neither [min, max] nor a null count.  Such files are kept, never
pruned, on those columns.

A commit's Spark work is its data work: every read of committed files
takes the manifest's schema (no inference job) and lists them on the
driver (no listing job), the affected bucket set of a rewrite is one
job, and a delta commit is one job, its write.  Its driver work is as
small as its data: manifests are listed, read and written through
``pyarrow.fs``, opened at the URI the Hadoop FS qualifies the target
to, so no manifest payload crosses py4j — a py4j reply of 16 KB or
more stalls about 45 ms (an 8 KB one takes 1 ms), which a 37 KB
manifest paid on every ``_open``, and the gateway commands of a
listing grew with the version count.  Only the commit point stays on
the Hadoop FS: the ``exists`` check and the ``rename``.  The plans of
a delta commit and of a fold are SQL text (window expressions and
projections), not a py4j round trip per ``Column`` node, so their
driver work barely grows with the column count.  Supported stores are
the local filesystem and HDFS-like ones — what both the Hadoop FS (commit
rename) and ``pyarrow.fs`` (manifests, new-file listing, footers)
open.

Commit protocol (optimistic, multi-writer safe):

1. read the current manifest (highest N); compute the affected buckets
   (a delta commit needs none);
2. write the NEW state of those buckets (or the delta file) under a
   WRITER-UNIQUE dir
   ``data/v{N+1}-{token}/`` — existing files are never touched or
   deleted, and two racers writing the same target version cannot
   clobber each other's part files (each attempt owns its own dir);
3. write ``_tmp-manifest-v{N+1}`` carrying forward the unaffected
   buckets' file lists and swapping in the new files (or appending
   the delta), then ``rename`` it to ``manifest-v{N+1}.json``.

The rename is the commit point: atomic on local/HDFS-like stores, and
it FAILS if the destination exists — which doubles as optimistic
concurrency control.  The losing racer's data dir is an orphan the
loser deletes on the way out (and ``vacuum`` would reap anyway); the
committed manifest only ever references files under the winner's dir,
so "a racing writer loses cleanly" holds for data files too.  A crash
anywhere before the rename leaves only orphan data files; the current
manifest — and therefore every reader and the next merge — still sees
the old committed state.  Object stores without atomic rename (S3)
need a conditional-put catalog instead; that swap is isolated to
``_commit_manifest``.  ``dml_retry(merge_versioned, ...)`` is the
bounded re-read/re-merge/re-commit loop a loser runs.  Every
version-producing operation opens its base version through ``_open``
and commits through ``_commit_state`` (bucket-rewriting),
``_commit_delta`` (a delta) or ``_commit_manifest(_manifest(...))``
(metadata-only).

Readers pin a manifest version → snapshot isolation and time travel
for free (``read_snapshot(..., version=K)``).  ``vacuum`` drops data
dirs unreferenced by the kept manifests' base files and deltas.  Every
manifest carries the table's schema, key columns and bucket count, and
every reader takes them from it (a manifest lacking one is refused,
never inferred around): an empty committed state (a merge that deleted
every key) reads back as an empty DataFrame, not an error, and point
lookups hash keys with the TABLE's column types (Spark's ``xxhash64``
is type-sensitive: a long hashes differently from an int, so bucketing
inferred-type Python literals directly could silently prune to the
wrong buckets).
"""

from __future__ import annotations

import json
import re
import uuid

import datetime as _dt
import time
from functools import reduce

import pyarrow.fs as pafs
import pyarrow.parquet as pq
from py4j.java_gateway import JavaClass
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    AtomicType,
    BinaryType,
    BooleanType,
    DecimalType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from end_end_data_pipeline__spark.session import pinned_conf
from end_end_data_pipeline__spark.sources import cdc

BUCKET_COL = "p_bucket"
_MANIFEST_RE = re.compile(r"manifest-v(\d+)\.json$")
_DELTA_OP = "__op"  # a delta row's change op; "d" is a tombstone
_DELTA_V = "__commit_version"  # the version that committed a delta row
_FOLD_AT = 5  # a merge that would leave this many pending deltas folds


def _bucket_sql(key_cols: list[str], n_buckets: int) -> str:
    """A row's bucket id — the immutable key→bucket mapping — as SQL."""
    keys = ", ".join(map(cdc.quote_ident, key_cols))
    return f"pmod(xxhash64({keys}), {n_buckets})"


def _bucket_of(key_cols: list[str], n_buckets: int) -> Column:
    """``_bucket_sql`` as a Column."""
    return F.expr(_bucket_sql(key_cols, n_buckets))


def _delta_frame(
    batch: DataFrame,
    schema: StructType,
    key_cols: list[str],
    version_col: str,
    new_v: int,
    n_buckets: int,
) -> DataFrame:
    """A decoded change ``batch`` as the rows of a delta committed at
    ``new_v``: its latest change per key, tombstones kept, as
    ``schema``'s flat columns (the keys from the change row — a
    delete's after-image is null — the rest from the after-image),
    ``_DELTA_OP``, ``_DELTA_V`` and the bucket id.  One window
    expression and one SQL projection."""
    q = cdc.quote_ident
    return cdc.latest_change_per_key(batch, key_cols, version_col).selectExpr(
        *[
            q(f.name) if f.name in key_cols else f"after.{q(f.name)} AS {q(f.name)}"
            for f in schema.fields
        ],
        f"op AS {_DELTA_OP}",
        f"CAST({new_v} AS BIGINT) AS {_DELTA_V}",
        f"CAST({_bucket_sql(key_cols, n_buckets)} AS INT) AS {BUCKET_COL}",
    )


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    return _jpath(jvm, path).getFileSystem(spark._jsc.hadoopConfiguration()), jvm


def _jpath(jvm, path: str):
    # the class by name: ``jvm.org.apache...`` is a round trip per dot
    return JavaClass("org.apache.hadoop.fs.Path", jvm._gateway_client)(path)


def _store(spark: SparkSession, path: str):
    """``(pyarrow filesystem, path in it)`` for ``path`` opened at the
    URI the Hadoop FS qualifies it to (``fs.defaultFS`` and the JVM's
    working dir decide a scheme-less path), so pyarrow lists, reads
    and writes exactly where Spark and the commit rename do."""
    hfs, jvm = _fs(spark, path)
    uri = hfs.makeQualified(_jpath(jvm, path)).toUri().toASCIIString()
    return pafs.FileSystem.from_uri(uri)


def list_versions(spark: SparkSession, target: str) -> list[int]:
    fs, root = _store(spark, target)
    infos = fs.get_file_info(pafs.FileSelector(root, allow_not_found=True))
    return sorted(
        int(m.group(1)) for i in infos if (m := _MANIFEST_RE.match(i.base_name))
    )


def _read_manifest(spark: SparkSession, target: str, version: int) -> dict:
    fs, root = _store(spark, target)
    with fs.open_input_stream(f"{root}/manifest-v{version}.json") as stream:
        return json.loads(stream.read())


def _manifest_schema(manifest: dict) -> StructType:
    """The table schema persisted at commit time."""
    return StructType.fromJson(manifest["schema"])


def _checked(manifest: dict, target: str, v: int) -> dict:
    """``manifest`` (version ``v``), refused unless it carries the
    table's schema and layout: every commit records them, and every
    read takes them from here instead of inferring."""
    missing = [k for k in ("schema", "key_cols", "n_buckets") if manifest.get(k) is None]
    if missing:
        raise ValueError(
            f"manifest v{v} of {target!r} lacks {missing} — not a "
            "manifest-table commit this engine can read"
        )
    return manifest


def _open(
    spark: SparkSession,
    target: str,
    version: int | None = None,
    as_of: "_dt.datetime | float | None" = None,
    missing_ok: bool = False,
) -> tuple[list[int], int, dict | None]:
    """``(versions, v, manifest)`` for ``version`` (default: the latest)
    — the one place an operation lists the committed versions and reads
    the manifest it works from.  ``as_of`` (datetime or epoch seconds)
    instead picks the newest version committed at-or-before that
    wall-clock time (versions from before commit times were recorded
    never match).  ``missing_ok`` lets a writer create the table:
    ``([], 0, None)`` when nothing is committed yet.  A manifest
    without the table's schema and layout is refused (``_checked``)."""
    versions = list_versions(spark, target)
    if not versions:
        if missing_ok:
            return [], 0, None
        raise FileNotFoundError(f"no committed manifest under {target!r}")
    if as_of is not None:
        if version is not None:
            raise ValueError("pass either version or as_of, not both")
        cutoff = (
            as_of.timestamp() if isinstance(as_of, _dt.datetime) else float(as_of)
        )
        manifests = {v: _read_manifest(spark, target, v) for v in versions}
        eligible = [
            v
            for v, m in manifests.items()
            if (ts := m.get("committed_at")) is not None and ts <= cutoff
        ]
        if not eligible:
            raise FileNotFoundError(
                f"no version of {target!r} committed at or before {as_of}"
            )
        v = eligible[-1]
        return versions, v, _checked(manifests[v], target, v)
    v = version if version is not None else versions[-1]
    if v not in versions:
        raise FileNotFoundError(f"version {v} not in {versions}")
    return versions, v, _checked(_read_manifest(spark, target, v), target, v)


def read_snapshot(
    spark: SparkSession,
    target: str,
    version: int | None = None,
    as_of: "_dt.datetime | float | None" = None,
) -> DataFrame:
    """The committed state at ``version`` (default: latest) — snapshot-
    isolated: the manifest's file list is immutable, so the read is
    unaffected by any concurrent commit or vacuum of other versions.
    ``as_of`` (datetime or epoch seconds) instead picks the newest
    version committed at-or-before that wall-clock time — TIMESTAMP AS
    OF time travel."""
    _, _, manifest = _open(spark, target, version, as_of)
    return _snapshot(spark, target, manifest)


def _snapshot(spark: SparkSession, target: str, manifest: dict) -> DataFrame:
    """The state of an already-read ``manifest``'s version."""
    files = [f for fl in manifest["buckets"].values() for f in fl]
    # pinned to ITS version's schema (column order, and nulls for
    # columns newer files carry that this version's pre-evolution
    # files lack)
    state = _read_state(spark, target, manifest, files)
    # a merge that deleted every key is a legitimate empty state
    return _or_empty(spark, state, manifest)


def _or_empty(spark: SparkSession, state: DataFrame | None, manifest: dict) -> DataFrame:
    """``state``, or an empty frame of the manifest's schema when there
    was nothing to read."""
    if state is None:
        return spark.createDataFrame([], _manifest_schema(manifest))
    return state


def _pending(manifest: dict | None) -> list[dict]:
    """The manifest's pending deltas, oldest first."""
    return (manifest or {}).get("deltas") or []


def _delta_buckets(manifest: dict | None) -> set[str]:
    """The buckets the pending deltas hold rows of."""
    return {b for d in _pending(manifest) for b in d["buckets"]}


def _delta_rows(
    spark: SparkSession,
    target: str,
    manifest: dict | None,
    schema: StructType,
    buckets: list[str] | None = None,
) -> DataFrame | None:
    """The pending deltas' rows (``schema``'s columns, ``_DELTA_OP``,
    ``_DELTA_V``, ``BUCKET_COL``) in ONE scan over the delta files that
    hold any of ``buckets`` (None: every delta), filtered to those
    buckets; None when no delta does.  Deltas written before a column
    was added read back nulls for it."""
    wanted = None if buckets is None else set(buckets)
    paths = [
        f"{target}/{d['file']}"
        for d in _pending(manifest)
        if wanted is None or wanted & set(d["buckets"])
    ]
    if not paths:
        return None
    rows = spark.read.schema(
        StructType([
            *schema.fields,
            StructField(_DELTA_OP, StringType()),
            StructField(_DELTA_V, LongType()),
            StructField(BUCKET_COL, IntegerType()),
        ])
    ).parquet(*paths)
    if wanted is not None:
        ids = ", ".join(str(b) for b in sorted(int(b) for b in wanted))
        rows = rows.filter(f"{BUCKET_COL} IN ({ids})")
    return rows


def _read_state(
    spark: SparkSession,
    target: str,
    manifest: dict,
    files: list[str],
    buckets: list[str] | None = None,
    schema: StructType | None = None,
) -> DataFrame | None:
    """The committed rows of the base ``files`` with the pending deltas
    of ``buckets`` (None: all) applied — each key resolved to its
    newest row, tombstoned keys dropped — read with ``schema``
    (default: the manifest's); None when there is neither a file nor
    a delta row to read.  With no delta to apply it is the plain scan
    of ``files``."""
    schema = schema or _manifest_schema(manifest)
    deltas = _delta_rows(spark, target, manifest, schema, buckets)
    base = _read_files(spark, target, files, schema) if files else None
    if deltas is None:
        return base
    key_cols = manifest["key_cols"]
    # pending deltas are few (under _FOLD_AT batch collapses, each one
    # file written by one task): resolve them in one partition, with no
    # shuffle — a delta holds one row per key, so the newest commit
    # wins — and keep the base rows whose key no delta holds through an
    # anti-join on the keys, so no base row is shuffled either (SQL
    # text: a py4j round trip per Column node would cost more than the
    # read of a few delta rows)
    live = _newest(deltas.coalesce(1), key_cols)
    if base is None:
        return live
    q = cdc.quote_ident
    held = deltas.selectExpr(*[f"{q(k)} AS {q('__held_' + k)}" for k in key_cols])
    on = F.expr(" AND ".join(f"{q(k)} <=> {q('__held_' + k)}" for k in key_cols))
    return base.join(held, on, "left_anti").unionByName(live)


def _newest(rows: DataFrame, key_cols: list[str]) -> DataFrame:
    """Each key's row of the newest commit (``_DELTA_V``) in
    delta-shaped ``rows`` (the table's columns, ``_DELTA_OP``,
    ``_DELTA_V``, ``BUCKET_COL``; one row per key per commit),
    tombstoned keys dropped, as the table's columns.  The SQL names
    only the keys: its driver work does not grow with the columns."""
    keys = ", ".join(map(cdc.quote_ident, key_cols))
    return (
        rows.selectExpr(
            "*", f"row_number() OVER (PARTITION BY {keys} ORDER BY {_DELTA_V} DESC) AS __rn"
        )
        .filter(f"__rn = 1 AND {_DELTA_OP} != 'd'")
        .drop(_DELTA_OP, _DELTA_V, BUCKET_COL, "__rn")
    )


def _read_files(
    spark: SparkSession, target: str, rel_files: list[str], schema: StructType
) -> DataFrame:
    """Read manifest-relative files spanning multiple ``data/v{N}``
    dirs with the committed ``schema``: no job infers it from the
    footers, and files written before a column was added read back
    with nulls for it.  Each version dir is its own partition-discovery
    base (one shared basePath would make Spark see conflicting
    ``v1``/``v2`` levels); the bucket partition column is dropped —
    manifests, not directory layout, are the source of truth for bucket
    membership."""
    by_vdir: dict[str, list[str]] = {}
    for f in rel_files:
        vdir = "/".join(f.split("/")[:2])  # data/vN
        by_vdir.setdefault(vdir, []).append(f"{target}/{f}")
    reader = spark.read.schema(
        StructType([*schema.fields, StructField(BUCKET_COL, IntegerType())])
    )
    # the manifest names every file, so Spark's listing is one status
    # call per file: cheaper on the driver than the listing job (a task
    # per path) it launches past 32 paths
    with pinned_conf(
        spark, "spark.sql.sources.parallelPartitionDiscovery.threshold",
        str(len(rel_files)),
    ):
        # one reader: each part sets its own basePath before its read
        parts = [
            reader.option("basePath", f"{target}/{vdir}").parquet(*fl).drop(BUCKET_COL)
            for vdir, fl in sorted(by_vdir.items())
        ]
    return reduce(DataFrame.unionByName, parts)


def read_keys(
    spark: SparkSession,
    target: str,
    key_cols: list[str],
    keys: list[tuple],
    n_buckets: int | None = None,
    version: int | None = None,
) -> DataFrame:
    """Bucket-pruned point lookup: the key→bucket mapping is immutable
    (same xxhash64 the merge uses), so a lookup reads only the manifest
    files of the touched buckets — O(touched/n_buckets) of the table,
    the lakehouse stand-in for the reference's primary-key index.
    Pending deltas are read in one scan, filtered to those buckets.
    ``n_buckets`` must match the table's layout."""
    _, _, manifest = _open(spark, target, version)
    n_buckets = _resolve_n_buckets(manifest, n_buckets, target)
    # one slice: the default slices a dozen keys over defaultParallelism
    # partitions, a task each in the bucket-set job and the broadcast
    key_df = spark.createDataFrame(
        spark.sparkContext.parallelize(keys, 1),
        spark._inferSchemaFromList(keys, names=key_cols),
    )
    # pin the probe keys to the TABLE's column types before hashing —
    # xxhash64(int) != xxhash64(long), so inferred-literal types would
    # silently prune to the wrong buckets
    table_types = {f.name: f.dataType for f in _manifest_schema(manifest).fields}
    q = cdc.quote_ident
    key_df = key_df.selectExpr(*[
        f"CAST({q(k)} AS {table_types[k].simpleString()}) AS {q(k)}"
        for k in key_cols
    ])
    wanted = sorted(_bucket_set(key_df, key_cols, n_buckets))
    files = [
        f for b, fl in manifest["buckets"].items() if b in wanted for f in fl
    ]
    state = _read_state(spark, target, manifest, files, wanted)
    if state is None:
        # none of the touched buckets exist → empty result, table schema
        # straight from the manifest (no file listing / footer reads)
        return spark.createDataFrame([], _manifest_schema(manifest))
    return state.join(F.broadcast(key_df), key_cols, "inner")


def _bucket_set(frame: DataFrame, key_cols: list[str], n_buckets: int) -> set[str]:
    """The bucket ids ``frame``'s keys hash into, in ONE Spark job: an
    observed ``collect_set`` rides a no-op write, so there is no
    shuffle stage and only the distinct ids reach the driver."""
    obs = Observation()
    frame.observe(
        obs, F.collect_set(_bucket_of(key_cols, n_buckets)).alias("b")
    ).write.format("noop").mode("overwrite").save()
    return {str(b) for b in obs.get["b"]}


def _commit_manifest(
    spark: SparkSession, target: str, manifest: dict
) -> None:
    """Write-then-rename commit.  The rename refuses (returns false) if
    the destination manifest already exists — a racing writer committed
    first; surface that instead of clobbering."""
    v = manifest["version"]
    # the payload goes through pyarrow (a py4j transfer of 16 KB or
    # more stalls ~45 ms); the commit point stays on the Hadoop FS
    store, root = _store(spark, target)
    with store.open_output_stream(f"{root}/_tmp-manifest-v{v}") as out:
        out.write(json.dumps(manifest).encode("utf-8"))
    fs, jvm = _fs(spark, target)
    tmp = _jpath(jvm, f"{target}/_tmp-manifest-v{v}")
    final = _jpath(jvm, f"{target}/manifest-v{v}.json")
    # pre-check + rename-result check: HDFS rename refuses an existing
    # destination; some local filesystems overwrite instead, so the
    # explicit exists() guard keeps the optimistic-concurrency contract
    # everywhere (the residual check-to-rename window is the documented
    # single-writer assumption — same as Delta on non-atomic stores)
    if fs.exists(final) or not fs.rename(tmp, final):
        fs.delete(tmp, False)
        raise RuntimeError(
            f"commit of version {v} lost the race: {final} already exists "
            "(concurrent writer) — re-read the new state and retry"
        )


def _manifest(
    base: dict,
    version: int,
    buckets: dict[str, list[str]],
    stats: dict[str, dict] | None,
    operation: str,
    **changed,
) -> dict:
    """The one manifest builder.  ``schema``, ``constraints``,
    ``n_buckets``, ``key_cols`` and ``deltas`` carry over from ``base``
    (the manifest the commit starts from; ``{}`` for a new table)
    unless ``changed`` sets them."""
    return {
        "version": version,
        "schema": base.get("schema"),
        "buckets": buckets,
        "stats": stats,
        "committed_at": time.time(),
        "operation": operation,
        "constraints": _constraints(base),
        "n_buckets": base.get("n_buckets"),
        "key_cols": base.get("key_cols"),
        "deltas": _pending(base),
        **changed,
    }


def _stats_eligible(dtype) -> bool:
    """Columns worth min/max stats: atomic, orderable, and losslessly
    JSON-encodable.  Decimals are excluded (a float round-trip could
    shave a boundary and mis-prune); binary/bool carry no range
    selectivity; arrays/structs/maps are not orderable."""
    return isinstance(dtype, AtomicType) and not isinstance(
        dtype, (BinaryType, BooleanType, DecimalType)
    )


def _enc_stat(v):
    """JSON-native, ORDER-PRESERVING encoding of a stat or predicate
    value: numbers stay numbers; strings stay strings; dates become
    ISO-8601 strings (ordinal-based, timezone-free); TIMESTAMPS become
    epoch-MICROSECOND integers — the absolute instant, immune to the
    JVM/Python local zone.  A NAIVE datetime is interpreted as UTC
    wall time (the repo-wide pin): ``datetime.isoformat()`` or a
    Python-side ``.collect()`` round-trip would both shift with the
    process ``TZ`` (PySpark converts TimestampType through the LOCAL
    calendar, not the session zone), which the round-7 hostile-TZ
    invariance sweep caught live (``versioned_stats_skipping`` read a
    band shifted by +14 h under TZ=Pacific/Kiritimati)."""
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return (v - _dt.datetime(1970, 1, 1)) // _dt.timedelta(microseconds=1)
    if isinstance(v, _dt.date):
        return v.isoformat()
    return v


def _written_files(
    spark: SparkSession, data_dir: str, schema: StructType
) -> tuple[dict[str, list[str]], dict[str, dict]]:
    """One pyarrow pass over a freshly written version dir: bucket id →
    its files (relative to the table root; only non-empty buckets get
    a ``p_bucket=`` dir), and each file's stats from the parquet
    footer the write produced — no Spark job, no data read.  The dir
    is opened where the Hadoop FS that wrote it resolves it
    (``_store``), so the listing cannot disagree with the write."""
    fs, root = _store(spark, data_dir)
    rel_dir = "/".join(data_dir.rstrip("/").split("/")[-2:])  # data/vN-token
    files: dict[str, list[str]] = {}
    stats: dict[str, dict] = {}
    # a successful write always creates the dir: a missing one raises
    for info in fs.get_file_info(pafs.FileSelector(root, recursive=True)):
        bdir, _, name = info.path[len(root):].strip("/").rpartition("/")
        if (
            info.type != pafs.FileType.File
            or not bdir.startswith(f"{BUCKET_COL}=")
            or name.startswith(("_", "."))
        ):
            continue
        rel = f"{rel_dir}/{bdir}/{name}"
        files.setdefault(bdir.split("=", 1)[1], []).append(rel)
        stats[rel] = _footer_stats(pq.read_metadata(info.path, filesystem=fs), schema)
    return {b: sorted(files[b]) for b in sorted(files, key=int)}, stats


def _footer_stats(md, schema: StructType) -> dict:
    """A file's manifest stats from its footer ``md``: [min, max] per
    stats-eligible column (combined across row groups, ``_enc_stat``
    encoded, [null, null] for an all-null column), ``__rows``, and
    ``__nulls`` per top-level column.  A column whose footer carries
    no min/max for some non-null values (INT96 timestamps, values too
    long for parquet stats) gets no [min, max] entry, and one without
    a null count (nested columns, those over-long strings) no
    ``__nulls`` entry — ``_file_matches`` then keeps the file.  Timestamps are read raw:
    INT64 epoch micros, the absolute instant whatever the process TZ."""
    leaves = {}
    for i in range(md.num_columns):
        col = md.schema.column(i)
        if col.path == col.name:  # top-level primitive, not a nested leaf
            leaves[col.name] = (i, col)
    chunks = {
        name: [md.row_group(r).column(i).statistics for r in range(md.num_row_groups)]
        for name, (i, _) in leaves.items()
    }

    def nan_last(v):
        # Spark ranks NaN above every value: a file's max is NaN if any
        # row group's is, its min only if every row group's is
        return (v != v, v)

    out: dict = {}
    for f in schema.fields:
        if f.name not in leaves or not _stats_eligible(f.dataType):
            continue
        col = leaves[f.name][1]
        raw = isinstance(f.dataType, (TimestampType, TimestampNTZType))
        if raw and not (
            col.physical_type == "INT64" and "micro" in str(col.logical_type).lower()
        ):
            continue
        sts = chunks[f.name]
        if any(
            st is None
            or not (st.has_min_max or (st.has_null_count and st.num_values == 0))
            for st in sts
        ):
            continue
        bounds = [
            (st.min_raw, st.max_raw) if raw else (st.min, st.max)
            for st in sts
            if st.has_min_max
        ]
        if not bounds:
            out[f.name] = [None, None]
            continue
        lo = min((b[0] for b in bounds), key=nan_last)
        hi = max((b[1] for b in bounds), key=nan_last)
        out[f.name] = [_enc_stat(lo), _enc_stat(hi)]
    out["__rows"] = md.num_rows
    out["__nulls"] = {
        f.name: sum(st.null_count for st in chunks[f.name])
        for f in schema.fields
        if f.name in chunks
        and all(st is not None and st.has_null_count for st in chunks[f.name])
    }
    return out


def _carry_stats(
    prev: dict[str, dict], buckets: dict[str, list[str]], new_stats: dict[str, dict]
) -> dict[str, dict]:
    """Stats for the next manifest: fresh entries for new files, prior
    entries carried for every file the new manifest still references
    (files are immutable, so their stats are too)."""
    live = {f for fl in buckets.values() for f in fl}
    out = {f: s for f, s in prev.items() if f in live}
    out.update({f: s for f, s in new_stats.items() if f in live})
    return out


def _file_matches(stats: dict[str, list] | None, col: str, op: str, v) -> bool:
    """Can a file with these [min, max] / null-count stats possibly
    satisfy ``col op v``?  Missing stats (pre-stats file, unknown
    column, all-null file) ⇒ True — pruning is only ever an
    optimization.  ``isnull``/``notnull`` ops (v ignored) prune via
    the per-file null counts."""
    if not stats:
        return True
    if op in ("isnull", "notnull"):
        nulls = stats.get("__nulls", {})
        if col not in nulls:
            return True
        if op == "isnull":
            return nulls[col] > 0
        nrows = stats.get("__rows")
        return nrows is None or nulls[col] < nrows
    if col not in stats:
        return True
    lo, hi = stats[col]
    if lo is None or hi is None:
        return True
    if any(isinstance(b, float) and b != b for b in (lo, hi)):
        return True  # NaN bound (Spark max treats NaN as +inf) — keep
    ev = _enc_stat(v)
    # encoding-generation guard: a manifest written before the
    # epoch-micros timestamp encoding stores ISO strings; comparing
    # those against a micros predicate would be meaningless — keep the
    # file (pruning is only ever an optimization)
    if isinstance(ev, str) != isinstance(lo, str):
        return True
    if op == "=":
        return lo <= ev <= hi
    if op == "<":
        return lo < ev
    if op == "<=":
        return lo <= ev
    if op == ">":
        return hi > ev
    if op == ">=":
        return hi >= ev
    raise ValueError(f"unsupported prune op {op!r} (use = < <= > >=)")


def prune_files(
    manifest: dict, conjuncts: list[tuple[str, str, object]]
) -> list[str]:
    """The file subset of ``manifest`` that can satisfy ALL conjuncts
    ``(col, op, value)`` — pure manifest-driven data skipping, no
    filesystem access.  Exposed separately so tests and operators can
    measure skipping effectiveness."""
    stats = manifest.get("stats", {})
    return [
        f
        for fl in manifest["buckets"].values()
        for f in fl
        if all(_file_matches(stats.get(f), c, op, v) for c, op, v in conjuncts)
    ]


def _conjunct_pred(conjuncts: list[tuple[str, str, object]]) -> Column:
    """Row-level predicate for ``(col, op, value)`` conjuncts — the ONE
    builder shared by ``read_where``'s residual filter and the DML
    rewrite, so pruning and filtering always compare the same instant.
    Naive datetime values mean UTC wall time (the ``_enc_stat``
    contract) and enter the plan as ``timestamp_micros`` literals: a
    bare datetime converts to internal micros through the
    PROCESS-LOCAL calendar, which would shift the selected band with
    the TZ env var — for DML that meant a partially-applied,
    TZ-dependent DELETE/UPDATE (pruning on UTC, row filter on local)."""
    preds: list[Column] = []
    for c, op, val in conjuncts:
        col = F.col(c)
        if isinstance(val, _dt.datetime):
            val = F.timestamp_micros(F.lit(_enc_stat(val)))
        preds.append(
            {
                "=": col == val,
                "<": col < val,
                "<=": col <= val,
                ">": col > val,
                ">=": col >= val,
                "isnull": col.isNull(),
                "notnull": col.isNotNull(),
            }[op]
        )
    return reduce(lambda a, b: a & b, preds) if preds else F.lit(True)


def read_where(
    spark: SparkSession,
    target: str,
    conjuncts: list[tuple[str, str, object]],
    version: int | None = None,
) -> DataFrame:
    """Snapshot read with manifest-stats data skipping: files whose
    [min, max] cannot satisfy the conjunction are never opened, then
    the full predicate is re-applied row-level on the survivors — so
    the result is exactly ``read_snapshot(...).filter(...)`` at
    O(matching files) scan cost.  This is the range-predicate
    complement of ``read_keys``'s hash-bucket pruning: hash bucketing
    is blind to time/value ranges, file stats are blind to point keys;
    together they cover both the reference's indexed lookups and its
    date-partitioned scans.  Skipping selectivity follows the physical
    layout — tightest after ``compact(cluster_by=[...])``.  Stats cover
    base files only: every pending delta is read, each key resolved
    across the kept files and the deltas, and only then is the
    predicate applied (a pruned file's rows cannot match, and a delta
    row that does is newer than any of them)."""
    _, _, manifest = _open(spark, target, version)
    state = _read_state(spark, target, manifest, prune_files(manifest, conjuncts))
    return _or_empty(spark, state, manifest).filter(_conjunct_pred(conjuncts))


def merge_versioned(
    batch: DataFrame,
    target: str,
    key_cols: list[str],
    version_col: str = "ts_ms",
    n_buckets: int | None = None,
) -> int:
    """Latest-wins merge with an ATOMIC commit; returns the committed
    version.  ``batch`` carries decoded change rows (key..., op,
    ``version_col``, after) as ``sources.cdc.decode`` produces them;
    within the batch the newest ``version_col`` per key wins (ties:
    d > u > c).  Against committed state COMMIT ORDER decides: a later
    commit's change wins over every committed row of its key whatever
    its ``version_col`` — so an older change redelivered in a later
    batch overwrites newer committed state.

    On an existing table the batch commits as a delta (see the module
    docstring): one file, no bucket rewritten.  A commit that would
    leave ``_FOLD_AT`` pending deltas, and the first commit of a new
    table, rewrite the affected buckets instead (a fold): the batch,
    collapsed as for a delta, joins the pending deltas as the newest
    one and the base rows of the batch's and the deltas' buckets as the
    oldest (commit 0), all flat rows of the delta-file shape in the
    batch's columns, and one window keeps each key's newest commit.
    Existing files are never modified — a crash at any point leaves
    the previous version fully intact and visible.
    ``n_buckets`` may be omitted on an existing table (the committed
    layout is used); a mismatching value is refused (see
    ``_resolve_n_buckets``)."""
    spark = batch.sparkSession
    _, current_v, manifest = _open(spark, target, missing_ok=True)
    n_buckets = _resolve_n_buckets(manifest, n_buckets, target)
    _check_key_cols(manifest, key_cols, target)
    # the batch's after-struct fields: the table's columns after this
    # commit (schema evolution target)
    schema = StructType(batch.schema["after"].dataType.fields)
    if manifest is not None:
        table_types = {f.name: f.dataType for f in _manifest_schema(manifest).fields}
        # xxhash64 is type-sensitive: a batch whose key columns
        # drifted (int vs long) would bucket to different ids than
        # the committed layout — refuse loudly, never merge wrong
        for k in key_cols:
            bt = batch.schema[k].dataType
            if bt != table_types[k]:
                raise TypeError(
                    f"key column {k!r} is {bt.simpleString()} in the "
                    f"batch but {table_types[k].simpleString()} in "
                    f"{target!r} — cast the batch before merging "
                    "(bucket hashing is type-sensitive)"
                )
        # schema evolution: NEW after-struct columns are allowed
        # (existing rows read back null for them); dropping or
        # retyping existing columns is refused — a latest-wins
        # merge with partial rows would silently null data
        batch_types = {f.name: f.dataType for f in schema.fields}
        missing = sorted(set(table_types) - set(batch_types))
        if missing:
            raise ValueError(
                f"batch after-struct lacks existing column(s) "
                f"{missing} of {target!r} — merges carry full rows; "
                "to drop a column, rewrite the table"
            )
        for name, bt in batch_types.items():
            if name in table_types and bt != table_types[name]:
                raise TypeError(
                    f"column {name!r} is {bt.simpleString()} in the "
                    f"batch but {table_types[name].simpleString()} "
                    f"in {target!r} — type changes need a rewrite"
                )
    new_v = current_v + 1
    # the batch as a delta's rows.  Onto an existing table it is a
    # micro-batch, collapsed in one task with no shuffle; a new table's
    # first batch collapses in parallel
    changes = _delta_frame(
        batch.coalesce(1) if manifest else batch, schema, key_cols,
        version_col, new_v, n_buckets,
    )
    if manifest is not None and len(_pending(manifest)) + 1 < _FOLD_AT:
        return _commit_delta(spark, target, manifest, new_v, changes, len(schema))
    affected, files = _touched(spark, manifest, batch, key_cols, n_buckets)
    # the fold: the batch joins the pending deltas as the newest delta
    # and the base rows as the oldest (commit 0), and the newest commit
    # of each key wins, as on every read (one shuffle)
    if manifest is not None:
        pending = _delta_rows(spark, target, manifest, schema)
        if pending is not None:
            changes = changes.unionByName(pending)
        if files:
            changes = changes.unionByName(
                _read_files(spark, target, files, schema).selectExpr(
                    "*", f"'c' AS {_DELTA_OP}", f"CAST(0 AS BIGINT) AS {_DELTA_V}",
                    f"CAST(NULL AS INT) AS {BUCKET_COL}",
                )
            )
    new_state = _newest(changes, key_cols).withColumn(
        BUCKET_COL, _bucket_of(key_cols, n_buckets)
    )
    _check_constraints(
        new_state.drop(BUCKET_COL), _constraints(manifest), "merge_versioned state"
    )
    return _commit_state(
        spark, target, manifest or {}, new_v, new_state, affected,
        "merge_versioned", n_buckets=n_buckets, key_cols=key_cols,
    )


def _commit_delta(
    spark: SparkSession,
    target: str,
    manifest: dict,
    new_v: int,
    rows: DataFrame,
    n_cols: int,
) -> int:
    """Commit ``rows`` (a ``_delta_frame`` of a one-partition batch,
    whose first ``n_cols`` columns are the table's) as one delta file,
    sorted by bucket.  One Spark job, the write: the collapse's window
    needs no shuffle on one partition, and the delta's bucket set rides
    the write as an observed metric.  The manifest carries every base
    file and stat by reference.  Constraints, when the table has any,
    are checked on the delta's non-delete rows."""
    q = cdc.quote_ident
    schema = StructType(rows.schema.fields[:n_cols])
    constraints = _constraints(manifest)
    if constraints:
        _check_constraints(
            rows.filter(f"{_DELTA_OP} != 'd'").selectExpr(*map(q, schema.fieldNames())),
            constraints, "merge_versioned delta",
        )
    data_dir = _data_dir(target, new_v)
    obs = Observation()
    _write_parquet(
        spark,
        rows.observe(obs, F.expr(f"collect_set({BUCKET_COL})").alias("b"))
        .sortWithinPartitions(BUCKET_COL)
        .write.mode("overwrite"),
        data_dir,
    )
    rel_dir = "/".join(data_dir.rstrip("/").split("/")[-2:])  # data/vN-token
    buckets = sorted((str(b) for b in obs.get["b"]), key=int)
    fs, root = _store(spark, data_dir)
    written = [
        {"file": f"{rel_dir}/{i.base_name}", "buckets": buckets}
        for i in fs.get_file_info(pafs.FileSelector(root))
        if i.base_name.endswith(".parquet") and not i.base_name.startswith(("_", "."))
    ]
    return _commit(
        spark, target, data_dir,
        _manifest(
            manifest, new_v, manifest["buckets"], manifest.get("stats"),
            "merge_versioned", schema=schema.jsonValue(),
            deltas=[*_pending(manifest), *written],
        ),
    )


def _touched(
    spark: SparkSession,
    manifest: dict | None,
    frame: DataFrame,
    key_cols: list[str],
    n_buckets: int,
) -> tuple[list[str], list[str]]:
    """The buckets a rewrite driven by ``frame`` replaces — those its
    keys hash into, plus every pending delta's, so the commit folds the
    deltas — and their base files."""
    affected = sorted(_bucket_set(frame, key_cols, n_buckets) | _delta_buckets(manifest))
    committed = manifest["buckets"] if manifest else {}
    return affected, [f for b in affected for f in committed.get(b, [])]


def _data_dir(target: str, new_v: int) -> str:
    """A writer-unique data dir for version ``new_v``: racing writers
    targeting the same version can never overwrite each other's part
    files (the loser's dir becomes an unreferenced orphan it deletes
    in ``_commit``)."""
    return f"{target}/data/v{new_v}-{uuid.uuid4().hex[:8]}"


def _write_parquet(spark: SparkSession, writer, data_dir: str) -> None:
    """``writer.parquet(data_dir)`` with INT64 micros timestamps, not
    Spark's INT96 default: INT96 footers carry no min/max.  Spark takes
    the type from the session conf only (a writer option is
    ignored)."""
    with pinned_conf(spark, "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"):
        writer.parquet(data_dir)


def _commit(spark: SparkSession, target: str, data_dir: str, manifest: dict) -> int:
    """Rename-commit ``manifest``, whose new files are all under
    ``data_dir``; a lost race deletes that dir (the writer's own
    orphan) before re-raising."""
    try:
        _commit_manifest(spark, target, manifest)
    except RuntimeError:
        fs, jvm = _fs(spark, target)
        fs.delete(_jpath(jvm, data_dir), True)
        raise
    return manifest["version"]


def _commit_state(
    spark: SparkSession,
    target: str,
    base: dict,
    new_v: int,
    new_state: DataFrame,
    affected: list[str] | None,
    operation: str,
    max_records_per_file: int | None = None,
    **changed,
) -> int:
    """The commit tail of every bucket-rewriting operation: write
    ``new_state`` (bucket-id column included) to a writer-unique dir,
    splice its buckets into ``base``'s —
    ``affected`` buckets are replaced (dropped when they came out
    empty), the rest carried by reference; ``None`` replaces every
    bucket — take the new files' stats from their footers, and
    atomically rename-commit version ``new_v`` with no pending deltas
    (``affected`` must cover every pending delta's buckets, and
    ``new_state`` has them applied).  The manifest's
    ``schema`` is the new state's unless ``changed`` pins one; the
    other fields follow ``_manifest``."""
    data_dir = _data_dir(target, new_v)
    writer = new_state.write.mode("overwrite")
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    _write_parquet(spark, writer.partitionBy(BUCKET_COL), data_dir)
    data_schema = new_state.drop(BUCKET_COL).schema
    new_files, new_stats = _written_files(spark, data_dir, data_schema)
    if affected is None:
        buckets = new_files
    else:
        buckets = {
            b: fl for b, fl in base.get("buckets", {}).items() if b not in affected
        }
        buckets.update({b: new_files[b] for b in affected if b in new_files})
    stats = _carry_stats(base.get("stats", {}), buckets, new_stats)
    if "schema" not in changed:
        changed["schema"] = data_schema.jsonValue()
    return _commit(
        spark, target, data_dir,
        _manifest(base, new_v, buckets, stats, operation, deltas=[], **changed),
    )


def _resolve_n_buckets(
    manifest: dict | None, n_buckets: int | None, target: str
) -> int:
    """The table's bucket count is part of its physical layout: every
    key's bucket is ``pmod(xxhash64(key), n_buckets)``, so merging or
    point-reading with a DIFFERENT count silently maps keys to other
    buckets — a merge would leave stale copies of the same key alive
    in the old bucket (duplicate keys), and a lookup would prune to
    the wrong files.  The count is therefore persisted in the manifest;
    callers may omit it (None → the table's), and a mismatching
    explicit value is refused.  New tables default to 64.  Use
    :func:`rebucket` to change the layout."""
    if manifest is None:
        return n_buckets if n_buckets is not None else 64
    recorded = manifest["n_buckets"]
    if n_buckets is not None and n_buckets != recorded:
        raise ValueError(
            f"n_buckets={n_buckets} does not match the committed "
            f"layout of {target!r} (n_buckets={recorded}) — keys "
            "would hash to different buckets, leaving stale "
            "duplicates; use rebucket() to change the layout"
        )
    return int(recorded)


def _check_key_cols(
    manifest: dict | None, key_cols: list[str], target: str
) -> None:
    """Like the bucket count, the merge key is part of the physical
    layout (it is what gets hashed): merging with different keys would
    leave the same logical row alive under two bucket ids.  The key
    set is recorded at commit time; a mismatching explicit key is
    refused."""
    if manifest is not None and manifest["key_cols"] != list(key_cols):
        raise ValueError(
            f"key_cols {key_cols} do not match the committed key "
            f"{manifest['key_cols']} of {target!r} — rows would hash to "
            "different buckets; rebucket() to change the key layout"
        )


def _constraints(manifest: dict | None) -> dict[str, str]:
    """The CHECK constraints a manifest records (``{}`` for none)."""
    return (manifest or {}).get("constraints") or {}


def _check_constraints(
    state: DataFrame, constraints: dict[str, str], context: str
) -> None:
    """Enforce table CHECK constraints on the post-merge state of the
    affected buckets — one filter+count over rows about to be written
    (O(new state), before any file lands).  Refuses the whole commit
    on the first violated constraint, Delta-style."""
    for name, expr in constraints.items():
        bad = state.filter(~F.coalesce(F.expr(expr), F.lit(False))).count()
        if bad:
            raise ValueError(
                f"CHECK constraint {name!r} ({expr}) violated by {bad} "
                f"row(s) in {context} — commit refused"
            )


def set_check_constraint(
    spark: SparkSession, target: str, name: str, expr: str
) -> int:
    """Register (or replace) a named CHECK constraint (a SQL boolean
    over the table's columns, e.g. ``"amount >= 0"``).  The EXISTING
    state must already satisfy it; every later merge validates its
    post-merge state before committing.  Commits a data-identical new
    version carrying the updated constraint set (NULL results count as
    violations — constraints are strict)."""
    _, current_v, manifest = _open(spark, target)
    constraints = {**_constraints(manifest), name: expr}
    _check_constraints(
        _snapshot(spark, target, manifest),
        {name: expr},
        f"existing state of {target!r}",
    )
    _commit_manifest(
        spark, target,
        _manifest(
            manifest, current_v + 1, manifest["buckets"], manifest.get("stats"),
            f"set_constraint:{name}", constraints=constraints,
        ),
    )
    return current_v + 1


def history(spark: SparkSession, target: str) -> DataFrame:
    """DESCRIBE HISTORY: one row per live manifest version — commit
    time, operation, file/bucket counts, constraint count.  Metadata
    only (reads manifests, never data files)."""
    versions, _, latest = _open(spark, target)
    rows = []
    for v in versions:
        m = latest if v == versions[-1] else _read_manifest(spark, target, v)
        ts = m.get("committed_at")
        rows.append(
            (
                v,
                _dt.datetime.fromtimestamp(ts) if ts is not None else None,
                m.get("operation"),
                sum(len(fl) for fl in m["buckets"].values()),
                len(m["buckets"]),
                len(_constraints(m)),
            )
        )
    return spark.createDataFrame(
        rows,
        "version int, committed_at timestamp, operation string,"
        " n_files int, n_buckets int, n_constraints int",
    )


def merge_into(
    source: DataFrame,
    target: str,
    key_cols: list[str],
    when_matched_update: dict[str, str] | str | None = "source",
    when_matched_delete: str | None = None,
    when_not_matched_insert: bool = True,
    n_buckets: int | None = None,
) -> int:
    """SQL-style ``MERGE INTO`` against the manifest-committed table —
    the general matched/not-matched clause surface next to
    ``merge_versioned``'s CDC latest-wins contract:

    - ``when_matched_delete``: SQL condition over ``t.*`` (current row)
      and ``s.*`` (source row); matching pairs are deleted.  Checked
      first, like Delta's clause order.
    - ``when_matched_update``: ``"source"`` replaces the row with the
      source row; a dict maps column → SQL expression over ``t``/``s``
      for partial updates (e.g. ``{"balance": "t.balance +
      s.balance"}``, unlisted columns keep the TARGET value); ``None``
      leaves matched rows untouched.  Key columns cannot be updated.
    - ``when_not_matched_insert``: source rows with no current match
      are inserted (or dropped when False).

    The source must carry the table's full schema (same names/types —
    bucket hashing is type-sensitive); on a not-yet-created target the
    merge degenerates to insert-all and commits version 1.

    Scale: identical cost envelope to a ``merge_versioned`` fold —
    source keys (plus every pending delta's buckets, which the commit
    folds) pick the affected buckets, ONE full-outer equi-join on the
    key columns pairs current and source rows (both sides hash-
    partitioned on the keys; no window, no cross product), and only
    the affected buckets rewrite through the same atomic commit tail.
    """
    spark = source.sparkSession
    for k in key_cols:
        if isinstance(when_matched_update, dict) and k in when_matched_update:
            raise ValueError(f"key column {k!r} cannot be updated by MERGE")
    _, current_v, manifest = _open(spark, target, missing_ok=True)
    n_buckets = _resolve_n_buckets(manifest, n_buckets, target)
    _check_key_cols(manifest, key_cols, target)
    if manifest is not None:
        out_fields = _manifest_schema(manifest).fields
        table_types = {f.name: f.dataType for f in out_fields}
        src_types = {f.name: f.dataType for f in source.schema.fields}
        if src_types != table_types:
            raise TypeError(
                f"MERGE source schema {sorted(src_types)} must equal the "
                f"table schema {sorted(table_types)} of {target!r} "
                "(names and types; bucket hashing is type-sensitive)"
            )
    else:
        out_fields = source.schema.fields
    non_keys = [f.name for f in out_fields if f.name not in key_cols]
    # every name is quoted: a bare string is parsed as an attribute path
    q = cdc.quote_ident
    keys = [F.col(q(k)) for k in key_cols]
    vals = [F.col(q(c)) for c in non_keys]

    # a target row matching MULTIPLE source rows makes the clause
    # outcome depend on join row order — refuse, like Delta's
    # DELTA_MULTIPLE_SOURCE_ROW_MATCHING_TARGET_ROW (collapse the
    # source first, e.g. cdc.apply_latest_state)
    if (
        source.groupBy(*keys)
        .count()
        .filter(F.col("count") > 1)
        .limit(1)
        .count()
    ):
        raise ValueError(
            f"MERGE source has duplicate keys on {key_cols} — the "
            "matched-clause outcome would be row-order-dependent; "
            "collapse the source to one row per key first"
        )
    affected, files = _touched(spark, manifest, source, key_cols, n_buckets)
    current = _read_state(spark, target, manifest, files, affected) if manifest else None

    s_side = source.select(
        *keys, F.struct(*vals).alias("s"), F.lit(True).alias("__s")
    )
    if current is None:
        merged = s_side.select(*keys, "s", F.lit("ins").alias("__act"))
        if not when_not_matched_insert:
            merged = merged.filter(F.lit(False))
    else:
        t_side = current.select(
            *keys, F.struct(*vals).alias("t"), F.lit(True).alias("__t")
        )
        joined = t_side.join(s_side, key_cols, "full_outer")
        action = (
            F.when(F.col("__s").isNull(), F.lit("keep"))
            .when(
                F.col("__t").isNull(),
                F.lit("ins") if when_not_matched_insert else F.lit("drop"),
            )
        )
        if when_matched_delete is not None:
            action = action.when(F.expr(when_matched_delete), F.lit("drop"))
        if when_matched_update is None:
            action = action.otherwise(F.lit("keep"))
        elif when_matched_update == "source":
            action = action.otherwise(F.lit("src"))
        else:
            action = action.otherwise(F.lit("upd"))
        merged = joined.withColumn("__act", action).filter(
            F.col("__act") != "drop"
        )
        upd_map = (
            when_matched_update
            if isinstance(when_matched_update, dict)
            else {}
        )
        # unresolvable assignment columns must RAISE (Delta semantics):
        # a typo'd key would otherwise be a silent no-op — every matched
        # row keeps its target values while the caller believes the
        # update applied
        unknown = set(upd_map) - set(non_keys)
        if unknown:
            bad_keys = unknown & set(key_cols)
            if bad_keys:
                raise ValueError(
                    f"merge_into: key columns {sorted(bad_keys)} cannot be "
                    "updated — their hash is the bucket layout"
                )
            raise ValueError(
                f"merge_into: unknown update columns {sorted(unknown)} "
                f"(table columns: {sorted(non_keys)})"
            )
        types = {f.name: f.dataType for f in out_fields}
        row = [
            F.when(F.col("__act") == "keep", F.col(f"t.{q(c)}"))
            .when(F.col("__act") == "ins", F.col(f"s.{q(c)}"))
            .when(F.col("__act") == "src", F.col(f"s.{q(c)}"))
            .otherwise(F.expr(upd_map.get(c, f"t.{q(c)}")))
            .cast(types[c])
            .alias(c)
            for c in non_keys
        ]
        merged = merged.select(*keys, *row, F.col("__act"))
    if current is None:
        merged = merged.select(*keys, "s.*")
    else:
        merged = merged.drop("__act")
    # restore the table's declared column order
    new_state = merged.select(
        *[F.col(q(f.name)) for f in out_fields]
    ).withColumn(BUCKET_COL, _bucket_of(key_cols, n_buckets))
    _check_constraints(
        new_state.drop(BUCKET_COL), _constraints(manifest), "merge_into state"
    )
    return _commit_state(
        spark, target, manifest or {}, current_v + 1, new_state, affected,
        "merge_into", n_buckets=n_buckets, key_cols=key_cols,
    )


def compact(
    spark: SparkSession,
    target: str,
    max_files_per_bucket: int = 1,
    cluster_by: list[str] | None = None,
    max_records_per_file: int | None = None,
) -> int | None:
    """Rewrite over-limit buckets into ``max_files_per_bucket`` files
    each, committed as a NEW content-identical version (readers of the
    old version are untouched; ``vacuum`` later reclaims superseded
    files).  The lakehouse OPTIMIZE: each merge can leave up to
    ``spark.sql.shuffle.partitions`` part files per touched bucket, and
    at 100 TB the accumulated small files dominate scan open cost;
    compaction pays one bounded rewrite of only the OVER-LIMIT buckets.

    ``cluster_by`` is the Z-ORDER analog (1-D): EVERY bucket is
    rewritten sorted by those columns (``sortWithinPartitions``, no
    extra shuffle beyond the bucket repartition), and
    ``max_records_per_file`` splits each bucket into several sorted
    files — so consecutive files carry tight, near-disjoint
    [min, max] ranges and ``read_where`` skips everything outside the
    predicate.  An upsert table's per-file ranges otherwise converge
    to the full column span (every merge unions old bucket rows back
    in); clustering is what restores skipping selectivity.

    Pending deltas are folded: their buckets are rewritten too.

    Returns the new committed version, or None when nothing needed
    compacting (no empty commits)."""
    _, current_v, manifest = _open(spark, target)
    over = sorted(
        {
            b
            for b, fl in manifest["buckets"].items()
            if cluster_by or len(fl) > max_files_per_bucket
        }
        | _delta_buckets(manifest)
    )
    if not over:
        return None
    # buckets may carry different column sets after add-column schema
    # evolution; pre-evolution buckets read back nulls and the rewrite
    # pins every compacted file to the table schema
    df = _read_buckets(spark, target, manifest, over).repartition(
        len(over), F.col(BUCKET_COL)
    )
    if cluster_by:
        df = df.sortWithinPartitions(BUCKET_COL, *cluster_by)
    return _commit_state(
        spark, target, manifest, current_v + 1, df, over, "compact",
        max_records_per_file, schema=manifest["schema"],
    )


def _read_buckets(
    spark: SparkSession, target: str, manifest: dict, buckets: list[str]
) -> DataFrame:
    """The committed rows of ``buckets``, pending deltas applied, with
    the bucket id pinned back on as ``BUCKET_COL`` (a rewrite that
    keeps the keys keeps every row in its bucket)."""
    files = [f for b in buckets for f in manifest["buckets"].get(b, [])]
    return _read_state(spark, target, manifest, files, buckets).withColumn(
        BUCKET_COL, _bucket_of(manifest["key_cols"], manifest["n_buckets"])
    )


def table_changes(
    spark: SparkSession,
    target: str,
    key_cols: list[str],
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Change data feed between two committed versions — the Delta CDF
    surface, derived rather than logged: because bucket membership is
    immutable and per-manifest, only buckets whose FILE LISTS differ
    between the two manifests (or that a delta pending on one side
    only holds rows of) can contain changes, so the diff reads
    O(changed buckets) of each version's merged state, never the whole
    table.

    Returns the ``to_version`` schema plus ``_change_type`` ∈
    {insert, delete, update_preimage, update_postimage} (update rows
    appear twice, pre and post, Delta-style).  Feed a downstream
    incremental mart refresh with this instead of re-scanning the
    table."""
    versions, to_v, m_to = _open(spark, target, to_version)
    if from_version not in versions:
        raise FileNotFoundError(f"version {from_version} not in {versions}")
    if from_version >= to_v:
        raise ValueError(
            f"change feed needs from_version < to_version, got "
            f"{from_version} >= {to_v}"
        )
    m_from = _checked(_read_manifest(spark, target, from_version), target, from_version)
    schema = _manifest_schema(m_to)
    # a bucket can differ only if its base files differ or a pending
    # delta holding rows of it is pending on one side only
    deltas = [{d["file"]: d["buckets"] for d in _pending(m)} for m in (m_from, m_to)]
    changed = sorted(
        {
            b
            for b in set(m_from["buckets"]) | set(m_to["buckets"])
            if m_from["buckets"].get(b) != m_to["buckets"].get(b)
        }
        | {
            b
            for f in set(deltas[0]) ^ set(deltas[1])
            for b in deltas[0].get(f, deltas[1].get(f))
        }
    )

    def side(manifest) -> DataFrame | None:
        files = [f for b in changed for f in manifest["buckets"].get(b, [])]
        return _read_state(spark, target, manifest, files, changed, schema)

    old, new = side(m_from), side(m_to)
    ct = "_change_type"
    if old is None and new is None:
        return spark.createDataFrame([], schema).withColumn(ct, F.lit(""))
    if old is None:
        return new.withColumn(ct, F.lit("insert"))
    if new is None:
        return old.withColumn(ct, F.lit("delete"))
    keys = [F.col(cdc.quote_ident(k)) for k in key_cols]
    cols = [F.col(cdc.quote_ident(c)) for c in new.columns]
    o = old.select(*keys, F.struct(*cols).alias("o"), F.lit(True).alias("__o"))
    nw = new.select(*keys, F.struct(*cols).alias("n"), F.lit(True).alias("__n"))
    j = o.join(nw, key_cols, "full_outer")
    inserts = j.filter(F.col("__o").isNull()).select("n.*").withColumn(
        ct, F.lit("insert")
    )
    deletes = j.filter(F.col("__n").isNull()).select("o.*").withColumn(
        ct, F.lit("delete")
    )
    updated = j.filter(
        F.col("__o").isNotNull()
        & F.col("__n").isNotNull()
        & ~F.col("o").eqNullSafe(F.col("n"))
    )
    pre = updated.select("o.*").withColumn(ct, F.lit("update_preimage"))
    post = updated.select("n.*").withColumn(ct, F.lit("update_postimage"))
    return inserts.unionByName(deletes).unionByName(pre).unionByName(post)


def rebucket(
    spark: SparkSession,
    target: str,
    key_cols: list[str],
    new_n_buckets: int,
) -> int:
    """Change the table's bucket layout: one full content-identical
    rewrite hashed to ``new_n_buckets``, committed as a new version
    (old snapshots keep reading their own layout — bucket membership
    is per-manifest, not per-directory).  The ONLY sanctioned way to
    change the bucket count; merges and lookups refuse a mismatching
    explicit count (``_resolve_n_buckets``)."""
    _, current_v, manifest = _open(spark, target)
    state = _snapshot(spark, target, manifest).withColumn(
        BUCKET_COL, _bucket_of(key_cols, new_n_buckets)
    )
    return _commit_state(
        spark, target, manifest, current_v + 1,
        state.repartition(new_n_buckets, F.col(BUCKET_COL)), None,
        f"rebucket:{new_n_buckets}", schema=manifest["schema"],
        n_buckets=new_n_buckets, key_cols=key_cols,
    )


def vacuum(spark: SparkSession, target: str, keep_last: int = 2) -> list[int]:
    """Drop data versions referenced ONLY by manifests older than the
    ``keep_last`` newest; returns removed manifest versions.  Readers
    of kept versions are unaffected (their manifests, base files and
    delta files stay)."""
    versions = list_versions(spark, target)
    drop, keep = versions[:-keep_last], versions[-keep_last:]
    if not drop:
        return []
    fs, jvm = _fs(spark, target)
    referenced: set[str] = set()
    for v in keep:
        m = _read_manifest(spark, target, v)
        live = [f for fl in m["buckets"].values() for f in fl]
        live += [d["file"] for d in _pending(m)]
        referenced |= {f.split("/")[1] for f in live}  # data/<vdir>/... → vdir
    for v in drop:
        fs.delete(_jpath(jvm, f"{target}/manifest-v{v}.json"), False)
    newest = keep[-1]
    data_root = _jpath(jvm, f"{target}/data")
    if fs.exists(data_root):
        for st in fs.listStatus(data_root):
            name = st.getPath().getName()
            # an unreferenced dir AT OR BELOW the newest committed
            # version is garbage (old version or lost-race leftover);
            # one ABOVE it belongs to an IN-FLIGHT writer whose commit
            # rename hasn't landed — deleting it would let that commit
            # succeed pointing at vanished files (multi-writer safety)
            m = re.match(r"v(\d+)-", name)
            in_flight = m is not None and int(m.group(1)) > newest
            if name not in referenced and not in_flight:
                fs.delete(st.getPath(), True)
    return drop


def _dml_rewrite(
    spark: SparkSession,
    target: str,
    current_v: int,
    manifest: dict,
    conjuncts: list[tuple[str, str, object]],
    transform,
    operation: str,
) -> int:
    """Shared engine for declarative DML (DELETE/UPDATE ... WHERE) on
    version ``current_v`` (whose ``manifest`` the caller opened):
    manifest stats pick the buckets that can possibly hold matching
    rows (same skipping as ``read_where`` — a time-banded DELETE on a
    clustered table rewrites only the touched band), those buckets
    rewrite through ``transform`` with their row-level predicate, and
    everything else is carried by reference.  Pending deltas are
    folded: their buckets are rewritten too.  With none pending, a
    conjunction no file can satisfy is a metadata no-op: the current
    version is returned and NOTHING is committed."""
    kept = set(prune_files(manifest, conjuncts))
    affected = sorted(
        {b for b, fl in manifest["buckets"].items() if any(f in kept for f in fl)}
        | _delta_buckets(manifest)
    )
    if not affected:
        return current_v
    # keys are unchanged by DML, so rows stay in their committed buckets
    current = _read_buckets(spark, target, manifest, affected)
    new_state = transform(current, _conjunct_pred(conjuncts))
    _check_constraints(
        new_state.drop(BUCKET_COL), _constraints(manifest), f"{operation} state"
    )
    return _commit_state(
        spark, target, manifest, current_v + 1, new_state, affected, operation
    )


def delete_where(
    spark: SparkSession,
    target: str,
    conjuncts: list[tuple[str, str, object]],
) -> int:
    """``DELETE FROM t WHERE <conjunction>`` — rows for which every
    conjunct ``(col, op, value)`` is TRUE are removed (NULL evaluations
    keep the row, standard SQL DELETE semantics).  Returns the new
    version (or the current one for a stats-proven no-op)."""

    def do_delete(df: DataFrame, pred: Column) -> DataFrame:
        return df.filter(~F.coalesce(pred, F.lit(False)))

    _, current_v, manifest = _open(spark, target)
    return _dml_rewrite(
        spark, target, current_v, manifest, conjuncts, do_delete, "delete_where"
    )


def update_where(
    spark: SparkSession,
    target: str,
    conjuncts: list[tuple[str, str, object]],
    set_exprs: dict[str, str],
) -> int:
    """``UPDATE t SET col = <sql expr> ... WHERE <conjunction>``.
    Set expressions are SQL over the row's columns (e.g.
    ``{"o_totalprice": "o_totalprice * 1.1"}``), cast back to the
    column's committed type so an expression cannot drift the schema.
    Key columns are refused (their hash IS the bucket layout); columns
    not in the schema are refused.  Returns the new version (current
    version for a stats-proven no-op)."""
    _, current_v, manifest = _open(spark, target)
    types = {f.name: f.dataType for f in _manifest_schema(manifest).fields}
    recorded_keys = set(manifest["key_cols"])
    for c in set_exprs:
        if c not in types:
            raise ValueError(f"unknown column {c!r} in {target!r}")
        if c in recorded_keys:
            raise ValueError(
                f"key column {c!r} cannot be updated — its hash is the "
                "bucket layout; delete + re-insert under the new key"
            )

    def do_update(df: DataFrame, pred: Column) -> DataFrame:
        # ONE projection, not chained withColumn: every SET expression
        # must read the PRE-update row (SQL UPDATE semantics) — chained
        # withColumn would let {"a": "b", "b": "a"} evaluate the second
        # assignment against the already-updated a, leaving both
        # columns equal to the old b instead of swapping
        p = F.coalesce(pred, F.lit(False))
        return df.select(
            *[
                (
                    F.when(p, F.expr(set_exprs[f.name]).cast(types[f.name]))
                    .otherwise(F.col(f.name))
                    .alias(f.name)
                    if f.name in set_exprs
                    else F.col(f.name)
                )
                for f in df.schema.fields
            ]
        )

    return _dml_rewrite(
        spark, target, current_v, manifest, conjuncts, do_update, "update_where"
    )


def restore(spark: SparkSession, target: str, version: int) -> int:
    """``RESTORE TABLE t TO VERSION AS OF v``: commit a NEW version
    whose manifest re-references version ``v``'s files (schema, stats,
    constraints, layout included) — a metadata-only rollback, no data
    rewrite, full history preserved (the bad versions stay readable).
    Safe with :func:`vacuum`: vacuum keeps files referenced by kept
    manifests, and the restore commit is the newest manifest."""
    versions, _, old = _open(spark, target, version)
    new_v = versions[-1] + 1
    _commit_manifest(
        spark, target,
        _manifest(old, new_v, old["buckets"], old.get("stats"), f"restore:{version}"),
    )
    return new_v


def dml_retry(fn, *args, max_attempts: int = 4, **kwargs) -> int:
    """Bounded optimistic-concurrency loop for every writer —
    ``dml_retry(merge_versioned, batch, target, key_cols)`` /
    ``dml_retry(delete_where, spark, target, conjuncts)`` /
    ``dml_retry(update_where, spark, target, conjuncts, set_exprs)`` /
    ``dml_retry(restore, spark, target, v)``.  On a lost commit race
    each attempt re-reads the (now newer) manifest and re-derives its
    rewrite against it, so the change is re-applied on fresh state,
    never blindly re-committed; a merge re-reads only the affected
    buckets, so the cost is O(retries × touched data), and its batch
    DataFrame is a logical plan — recomputing it is safe.  Raises the
    final :class:`RuntimeError` when every attempt loses."""
    last: RuntimeError | None = None
    for _ in range(max_attempts):
        try:
            return fn(*args, **kwargs)
        except RuntimeError as e:  # lost the commit race; state moved on
            last = e
    raise last  # type: ignore[misc]
