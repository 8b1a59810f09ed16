"""The two workloads.  Each is a closed loop run by one client thread:
an op starts only when the previous one has returned.

``setup`` makes the inputs (from the seed) and is repeatable;
``warm`` runs one untimed pass; ``run_pass`` is one timed pass and
keeps whatever ``verify`` needs; ``verify`` runs after the timed loop
and maps each op whose result was wrong to the reason; ``layers``
turns the traced passes' spans into the per-layer metrics.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field

import pandas as pd
import pyarrow.parquet as pq

import gen
import oracles
from tracing import group_counters, progress_listener, sql_executions

PINNED = (
    "flagship_monthly_segment_volume", "join_geo_rollup",
    "join_order_lineitem_detail", "agg_pricing_summary",
    "window_running_total_per_user", "asof_click_before_purchase",
    "cdc_roundtrip_latest_state", "dedup_ngram_jaccard_pairs",
    "dedup_minhash_lsh_pairs", "embedding_cosine_topk",
    "tpch_q3_shipping_priority", "tpch_q18_large_volume_customers",
)
MARTS = ("mart_daily_txn_volume", "mart_customer_value",
         "mart_account_running_balance")
LAKE_OPS = PINNED + MARTS
PKG = "end_end_data_pipeline__spark"


@dataclass
class Op:
    kind: str          # the op family; ``Workload.primary`` is timed end to end
    name: str
    secs: float
    ok: bool = True    # False when the call raised


@dataclass
class PassResult:
    wall: float = 0.0
    items: int = 0         # units of work done (``Workload.item``)
    items_s: float = 0.0   # the wall time those units took
    ops: list[Op] = field(default_factory=list)
    errors: list[str] = field(default_factory=list)
    extra: dict = field(default_factory=dict)

    def timed(self, kind: str, name: str, fn):
        """Run ``fn`` as one op; a raise is a failed op, not a crash."""
        t0 = time.perf_counter()
        out, ok = None, True
        try:
            out = fn()
        except Exception as e:  # noqa: BLE001 - counted as a failed op
            ok = False
            self.errors.append(f"{name}: {e!r}"[:300])
        self.ops.append(Op(kind, name, time.perf_counter() - t0, ok))
        return out


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def spark_metrics(c: dict, n_passes: int, lake_scans: bool = True) -> dict:
    """Per-pass Spark counters; with ``lake_scans``, the scan input they
    include is the lake's (``sources.lake`` loads every table read)."""
    out = {f"spark.{k}": c[k] / n_passes for k in (
        "jobs", "stages", "tasks", "task_run_s", "gc_s", "shuffle_write_bytes",
        "shuffle_read_bytes", "spill_bytes", "failed_tasks")}
    if lake_scans:
        out["sources.lake.input_bytes"] = c["input_bytes"] / n_passes
        out["sources.lake.input_rows"] = c["input_rows"] / n_passes
    return out


class Workload:
    name = ""
    primary = ""   # the op kind behind op_p50_ms
    item = ""      # the unit behind items_per_s
    # (module, attribute, layer, job-group prefix) wrapped in traced passes
    wrapped: tuple = ()

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed

    def input_dir(self, rep: int) -> str:
        d = os.path.join(self.work, f"inputs-{rep}")
        if rep > 0:  # only the last set-up's copy is kept
            shutil.rmtree(os.path.join(self.work, f"inputs-{rep - 1}"), ignore_errors=True)
        return d


# ---------------------------------------------------------------------------
# lake_analytics
# ---------------------------------------------------------------------------

class LakeAnalytics(Workload):
    name = "lake_analytics"
    primary = "query"
    item = "queries"
    wrapped = (
        (f"{PKG}.sources.lake", "load_table", "sources.lake", None),
        (f"{PKG}.sources.cdc", "parse_envelope", "sources.cdc", None),
        (f"{PKG}.sources.cdc", "decode", "sources.cdc", None),
        (f"{PKG}.operators.dedup", "ngram_jaccard_pairs", "operators.dedup", None),
        (f"{PKG}.operators.dedup", "minhash_lsh_pairs", "operators.dedup", None),
    )
    SF = 0.01
    N_CUSTOMERS = 2000
    TXNS_PER_ACCOUNT = 5

    def setup(self, rep: int) -> None:
        d = self.input_dir(rep)
        self.sf_dir = os.path.join(d, "star")
        self.silver = os.path.join(d, "silver")
        gen.write_star(self.sf_dir, self.seed, self.SF)
        gen.write_banking(self.silver, self.seed, self.N_CUSTOMERS, self.TXNS_PER_ACCOUNT)

    def builders(self) -> dict:
        from end_end_data_pipeline__spark.plans import marts
        from end_end_data_pipeline__spark.plans.catalog import load_all

        cat = load_all()
        spark, sf_dir = self.spark, self.sf_dir

        def silver(t):
            return spark.read.parquet(os.path.join(self.silver, t))

        out = {n: (lambda fn=cat[n].fn: fn(spark, sf_dir)) for n in PINNED}
        out["mart_daily_txn_volume"] = lambda: marts.mart_daily_txn_volume(
            silver("transactions"), silver("accounts"))
        out["mart_customer_value"] = lambda: marts.mart_customer_value(
            silver("customers"), silver("accounts"), silver("transactions"))
        out["mart_account_running_balance"] = lambda: (
            marts.mart_account_running_balance(silver("transactions")))
        return out

    def order(self, pass_no: int) -> list[str]:
        names = list(LAKE_OPS)
        random.Random(self.seed * 7919 + pass_no).shuffle(names)
        return names

    def warm(self) -> None:
        """One untimed pass that keeps every op's result for ``verify``
        (the inputs are fixed, so it checks what the timed ops compute)."""
        self.results = {}
        for name, build in self.builders().items():
            try:
                df = build()
                if name in MARTS:
                    df = oracles.strings_for_exact(df)
                self.results[name] = df.toPandas()
            except Exception as e:  # noqa: BLE001 - reported by verify
                self.results[name] = e

    def run_pass(self, pass_no: int, tracer=None) -> PassResult:
        """Every op once, in this pass's seeded order."""
        builds = self.builders()
        res = PassResult()
        t_pass = time.perf_counter()
        for name in self.order(pass_no):
            if tracer is None:
                res.timed("query", name, lambda b=builds[name]: _noop(b()))
            else:
                res.timed("query", name, lambda b=builds[name], n=name: self._traced_op(
                    tracer, n, b, pass_no))
        res.wall = res.items_s = time.perf_counter() - t_pass
        res.items = len(LAKE_OPS)
        return res

    def _traced_op(self, tracer, name: str, build, pass_no: int) -> None:
        """build (with any eager jobs), then the noop write; the write's
        planning is the gap between the call and the start of its SQL
        execution, which Spark posts once the physical plan exists."""
        g = f"{name}@{pass_no}"
        with tracer.span("plans", name) as op:
            with tracer.span("plans", "build", group=g + "/build"):
                df = build()
            before = max((i for i, _ in sql_executions(self.spark)), default=-1)
            with tracer.span("spark", "write", group=g + "/write") as w:
                _noop(df)
            started = [e for e in sql_executions(self.spark) if e[0] > before]
            first = min(started)[1] if started else w.end_wall
            op.attrs["plan_s"] = min(max(0.0, first - w.start_wall), w.dur)
            op.attrs["exec_s"] = w.dur - op.attrs["plan_s"]

    def verify(self, passes: list) -> dict[str, str]:
        """The warm-up pass's results against DuckDB."""
        from end_end_data_pipeline__spark.plans.catalog import load_all

        cat = load_all()
        silver = oracles.silver_connection(self.silver)
        bad = {}
        for name, got in self.results.items():
            try:
                if isinstance(got, Exception):
                    raise got
                if name in MARTS:
                    want = silver.execute(oracles.MART_SQL[name]).fetchdf()
                elif name == "dedup_ngram_jaccard_pairs":
                    # its catalog oracle is an O(n^2) cross join
                    want = oracles.pairs_frame(os.path.join(self.sf_dir, "documents.parquet"))
                else:
                    want = oracles.duck_run(cat[name].oracle, self.sf_dir)
                err = oracles.compare_structured(got, want)["err"]
            except Exception as e:  # noqa: BLE001
                err = f"verification raised {e!r}"[:300]
            if err:
                bad[name] = err
        return bad

    def layers(self, tracer, traced: list) -> dict:
        n = len(traced)
        m: dict[str, float] = {}
        ops = [s for s in tracer.spans if s.name in LAKE_OPS]
        builds = [s for s in tracer.named("build")]
        writes = [s for s in tracer.named("write")]
        m["plans.build_s"] = sum(s.dur for s in builds) / n
        m["plans.plan_s"] = sum(s.attrs["plan_s"] for s in ops) / n
        m["plans.exec_s"] = sum(s.attrs["exec_s"] for s in ops) / n
        eager = group_counters(self.spark, [s.group for s in builds])
        m["plans.eager_jobs"] = eager["jobs"] / n
        m["plans.eager_job_s"] = eager["job_wall_s"] / n
        for op in LAKE_OPS:
            m[f"plans.{op}.s"] = _mean([s.dur for s in tracer.named(op)])
        m["sources.lake.load_table_s"] = sum(s.dur for s in tracer.named("load_table")) / n
        m["sources.cdc.decode_build_s"] = sum(
            s.dur for s in tracer.spans if s.layer == "sources.cdc") / n
        m.update(self._dedup(tracer))
        allc = group_counters(self.spark, [s.group for s in builds + writes])
        return {**m, **spark_metrics(allc, n)}

    def _dedup(self, tracer) -> dict:
        """``operators.dedup`` as the two pinned dedup queries use it on
        the skewed ``documents`` corpus: whole-op time (the operator is
        all of the query), the largest shuffle of the exact pair search
        against the pairs it keeps, and MinHash recall."""
        docs = os.path.join(self.sf_dir, "documents.parquet")
        texts = pq.read_table(docs, columns=["text"]).column("text").to_pylist()
        sets = oracles.shingle_sets(texts)
        truth = {(int(a), int(b)) for a, b in
                 oracles.pairs_frame(docs)[["doc_a", "doc_b"]].itertuples(index=False)}
        m = {}
        for fn in ("ngram_jaccard_pairs", "minhash_lsh_pairs"):
            m[f"operators.dedup.{fn}_s"] = _mean(
                [s.dur for s in tracer.named(f"dedup_{fn}")])
        exact = "dedup_ngram_jaccard_pairs"
        groups = [s.group for s in tracer.spans
                  if s.group and s.parent is not None and s.parent.name == exact]
        shuffle_rows = group_counters(self.spark, groups)["max_shuffle_write_records"]
        verified = len(self.results[exact]) if exact in self.results else 0
        m["operators.dedup.pair_shuffle_records"] = shuffle_rows
        m["operators.dedup.verified_pairs"] = float(verified)
        m["operators.dedup.useful_ratio"] = verified / max(1.0, shuffle_rows)
        m["operators.dedup.max_shingle_df"] = float(max(oracles.shingle_df(sets).values()))
        got = self.results.get("dedup_minhash_lsh_pairs")
        if truth and isinstance(got, pd.DataFrame):
            found = {(int(a), int(b)) for a, b in
                     got[["doc_a", "doc_b"]].itertuples(index=False)}
            m["dedup_recall"] = len(found & truth) / len(truth)
        return m

    def split(self, tracer, traced: list) -> dict:
        """Mean build / eager-job / plan / exec seconds of each op."""
        out = {op: dict.fromkeys(("build_s", "eager_jobs", "eager_job_s",
                                  "plan_s", "exec_s"), 0.0) for op in LAKE_OPS}
        runs = {op: max(1, len(tracer.named(op))) for op in LAKE_OPS}
        for s in tracer.named("build"):
            op = s.parent.name
            d, k = out[op], runs[op]
            c = group_counters(self.spark, [s.group])
            d["build_s"] += s.dur / k
            d["eager_jobs"] += c["jobs"] / k
            d["eager_job_s"] += c["job_wall_s"] / k
        for s in tracer.spans:
            if s.name in out:
                out[s.name]["plan_s"] += s.attrs["plan_s"] / runs[s.name]
                out[s.name]["exec_s"] += s.attrs["exec_s"] / runs[s.name]
        return out


# ---------------------------------------------------------------------------
# cdc_ingest
# ---------------------------------------------------------------------------

COMMIT_WAIT_S = 30.0  # progress events arrive asynchronously after a batch


def check_read(model: dict, kind: str, v: int, arg, got) -> str | None:
    """A ``read_keys``/``read_where`` result against the model of its
    version; the mismatch, or None."""
    state = model[v]
    want = ([state[k] for k in arg if k in state] if kind == "read_keys"
            else oracles.where_model(state, *arg))
    return oracles.compare_structured(got, oracles.txn_frame(want))["err"]


class CdcIngest(Workload):
    name = "cdc_ingest"
    primary = "commit"
    item = "change events"
    wrapped = (
        # streaming.upsert calls mt.merge_versioned through the module
        (f"{PKG}.sources.manifest_table", "merge_versioned",
         "sources.manifest_table", "merge"),
        (f"{PKG}.sources.manifest_table", "read_keys", "sources.manifest_table", "read_keys"),
        (f"{PKG}.sources.manifest_table", "read_where",
         "sources.manifest_table", "read_where"),
        (f"{PKG}.sources.cdc", "parse_envelope", "sources.cdc", None),
        (f"{PKG}.sources.cdc", "decode", "sources.cdc", None),
    )
    N_SEED = 20_000
    N_FILES = 8
    PER_FILE = 400
    N_BUCKETS = 64
    N_LOOKUPS = 6

    def __init__(self, spark, work: str, seed: int):
        super().__init__(spark, work, seed)
        self.listener = progress_listener()
        spark.streams.addListener(self.listener)

    def setup(self, rep: int) -> None:
        from end_end_data_pipeline__spark import schemas
        from end_end_data_pipeline__spark.sources import manifest_table as mt
        from pyspark.sql import functions as F

        d = self.input_dir(rep)
        self.log = gen.write_cdc(d, self.seed, self.N_SEED, self.N_FILES, self.PER_FILE)
        self.changes_dir = os.path.join(d, "changes")
        self.schema = schemas.BANKING_TRANSACTIONS
        seed_rows = self.spark.read.schema(self.schema).parquet(
            os.path.join(d, "seed.parquet"))
        batch = seed_rows.select(
            F.col("id"), F.lit("c").alias("op"), F.lit(0).cast("long").alias("ts_ms"),
            F.struct(*[F.col(c) for c in seed_rows.columns]).alias("after"))
        self.seed_table = os.path.join(d, "seed_table")
        mt.merge_versioned(batch, self.seed_table, ["id"], n_buckets=self.N_BUCKETS)
        self.change_bytes = sum(os.path.getsize(p) for p in self.log.paths)
        self.lookups = self._plan_lookups()
        # the warm-up streams the first change file only
        self.warm_dir = os.path.join(d, "warm")
        os.makedirs(self.warm_dir)
        shutil.copy2(self.log.paths[0], self.warm_dir)

    def _plan_lookups(self) -> list[tuple]:
        """A fixed mix of point and range reads against sampled versions."""
        r = random.Random(self.seed)
        last_key = max(ch.key for f in self.log.files for ch in f)
        out = []
        for i in range(self.N_LOOKUPS):
            v = r.randint(1, self.N_FILES + 1)
            if i % 2 == 0:
                keys = {r.randint(last_key - 3000, last_key) for _ in range(12)}
                keys |= {r.randint(1, last_key), last_key + 1000}
                out.append(("read_keys", v, sorted(keys)))
            else:
                k0 = r.randint(last_key - 4000, last_key - 200)
                lo = gen.CDC_T0 + dt.timedelta(seconds=30 * k0)
                hi = lo + dt.timedelta(seconds=30 * 300)
                out.append(("read_where", v, (lo, hi, r.choice(["COMPLETED", "PENDING"]))))
        return out

    def warm(self) -> None:
        table, ckpt = self._fresh_table(-1)
        self._stream(table, ckpt, self.warm_dir)
        for kind, _, arg in self.lookups[:2]:
            self._read(table, kind, 2, arg).toPandas()

    def _fresh_table(self, pass_no: int) -> tuple[str, str]:
        p = os.path.join(self.work, f"pass-{pass_no}")
        shutil.rmtree(p, ignore_errors=True)
        shutil.copytree(self.seed_table, os.path.join(p, "table"))
        return os.path.join(p, "table"), os.path.join(p, "checkpoint")

    def _stream(self, table: str, ckpt: str, source: str) -> str:
        from end_end_data_pipeline__spark.streaming import upsert

        q = upsert.stream_cdc_file_source_versioned(
            self.spark, source, self.schema, ["id"], table, ckpt,
            max_files_per_trigger=1, n_buckets=self.N_BUCKETS)
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return str(q.runId)

    def _read(self, table: str, kind: str, v: int, arg):
        from end_end_data_pipeline__spark.sources import manifest_table as mt

        if kind == "read_keys":
            return mt.read_keys(self.spark, table, ["id"], [(k,) for k in arg], version=v)
        lo, hi, status = arg
        return mt.read_where(self.spark, table, [
            ("created_at", ">=", lo), ("created_at", "<", hi),
            ("status", "=", status)], version=v)

    def run_pass(self, pass_no: int, tracer=None) -> PassResult:
        table, ckpt = self._fresh_table(pass_no)
        res = PassResult(extra={"table": table, "reads": []})
        t_pass = time.perf_counter()

        def stream():
            return self._stream(table, ckpt, self.changes_dir)

        if tracer is None:
            run_id = res.timed("stream", "stream", stream)
        else:
            with tracer.span("streaming.upsert", "stream"):
                run_id = res.timed("stream", "stream", stream)
        res.items_s = time.perf_counter() - t_pass
        res.items = self.log.n_applied
        for kind, v, arg in self.lookups:
            got = res.timed("lookup", kind,
                            lambda k=kind, v=v, a=arg: self._read(table, k, v, a).toPandas())
            res.extra["reads"].append((kind, v, arg, got))
        res.wall = time.perf_counter() - t_pass
        commits = self._commits(run_id) if run_id else []
        res.extra["commits"] = commits
        res.extra["run_id"] = run_id
        for c in commits:
            res.ops.append(Op("commit", "trigger",
                              c["duration_ms"]["triggerExecution"] / 1000.0))
        for _ in range(self.N_FILES - len(commits)):
            res.ops.append(Op("commit", "trigger", float("nan"), ok=False))
        return res

    def _commits(self, run_id: str) -> list[dict]:
        deadline = time.time() + COMMIT_WAIT_S
        while True:
            got = self.listener.for_run(run_id)
            if len(got) >= self.N_FILES or time.time() > deadline:
                return got
            time.sleep(0.02)

    def verify(self, passes: list) -> dict[str, str]:
        """Every pass: the version list, the last version in full, and each
        read, against the latest-state model of its version."""
        from end_end_data_pipeline__spark.sources import manifest_table as mt

        model = oracles.cdc_versions(self.log)
        last = max(model)
        bad = {}
        for pr in passes:
            table = pr.extra["table"]
            try:
                versions = mt.list_versions(self.spark, table)
                if versions != list(range(1, last + 1)):
                    err = f"versions {versions} != 1..{last}"
                else:
                    snap = mt.read_snapshot(self.spark, table, version=last).toPandas()
                    err = oracles.compare_structured(snap, oracles.txn_frame(
                        model[last].values()))["err"]
            except Exception as e:  # noqa: BLE001
                err = f"verification raised {e!r}"[:300]
            if err:
                bad["trigger"] = bad["stream"] = err
            for kind, v, arg, got in pr.extra["reads"]:
                err = None if got is None else check_read(model, kind, v, arg, got)
                if err:
                    bad[kind] = f"@v{v}: {err}"
        return bad

    def layers(self, tracer, traced: list) -> dict:
        n = len(traced)
        m: dict[str, float] = {}
        merges = tracer.named("merge_versioned")
        mc = group_counters(self.spark, [s.group for s in merges])
        m["sources.manifest_table.merge_s"] = _mean([s.dur for s in merges])
        m["sources.manifest_table.merge_jobs"] = mc["jobs"] / max(1, len(merges))
        for name in ("read_keys", "read_where"):
            m[f"sources.manifest_table.{name}_s"] = _mean(
                [s.dur for s in tracer.named(name)])
        m["sources.cdc.decode_build_s"] = sum(
            s.dur for s in tracer.spans if s.layer == "sources.cdc") / n
        commits = [c["duration_ms"] for pr in traced for c in pr.extra["commits"]]
        m["streaming.upsert.trigger_s"] = _mean(
            [d.get("triggerExecution", 0) / 1e3 for d in commits])
        m["streaming.upsert.add_batch_s"] = _mean(
            [d.get("addBatch", 0) / 1e3 for d in commits])
        m["streaming.upsert.log_commit_s"] = _mean(
            [(d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3 for d in commits])
        m["streaming.upsert.input_rows"] = sum(
            c["rows"] for pr in traced for c in pr.extra["commits"]) / n
        table = traced[-1].extra["table"]
        m.update(self._layout(table))
        m["sources.manifest_table.files_pruned_ratio"] = self._pruned_ratio(table)
        lookups = [o.secs for pr in traced for o in pr.ops if o.kind == "lookup" and o.ok]
        m["lookup_p50_ms"] = 1e3 * statistics.median(lookups)
        m["lookup_p90_ms"] = 1e3 * statistics.quantiles(lookups, n=10)[-1]
        groups = [s.group for s in tracer.spans if s.group]
        groups += [pr.extra["run_id"] for pr in traced if pr.extra["run_id"]]
        return {**m, **spark_metrics(group_counters(self.spark, groups), n,
                                     lake_scans=False)}

    def _manifest(self, table: str, v: int) -> dict:
        with open(os.path.join(table, f"manifest-v{v}.json")) as fh:
            return json.load(fh)

    def _layout(self, table: str) -> dict:
        """Bucket fan-out, write and space amplification of the committed
        versions, read straight from the manifests and data files."""
        last = self.N_FILES + 1
        touched, new_files, new_bytes = [], 0, 0
        prev = self._manifest(table, 1)
        for v in range(2, last + 1):
            cur = self._manifest(table, v)
            bp, bc = prev["buckets"], cur["buckets"]
            changed = [b for b in set(bp) | set(bc) if bp.get(b) != bc.get(b)]
            touched.append(len(changed) / self.N_BUCKETS)
            old = {f for fl in bp.values() for f in fl}
            fresh = [f for fl in bc.values() for f in fl if f not in old]
            new_files += len(fresh)
            new_bytes += sum(os.path.getsize(os.path.join(table, f)) for f in fresh)
            prev = cur
        live = {f for fl in prev["buckets"].values() for f in fl}
        live_bytes = sum(os.path.getsize(os.path.join(table, f)) for f in live)
        all_bytes = sum(os.path.getsize(os.path.join(dp, f))
                        for dp, _, fs in os.walk(os.path.join(table, "data"))
                        for f in fs if f.endswith(".parquet"))
        return {
            "sources.manifest_table.buckets_touched_ratio": _mean(touched),
            "sources.manifest_table.files_written": new_files / (last - 1),
            "sources.manifest_table.write_amp": new_bytes / self.change_bytes,
            "sources.manifest_table.space_amp": all_bytes / max(1, live_bytes),
            "sources.manifest_table.manifest_bytes": float(os.path.getsize(
                os.path.join(table, f"manifest-v{last}.json"))),
        }

    def _pruned_ratio(self, table: str) -> float:
        """Mean share of a version's files each read skips: bucket pruning
        for point reads, manifest stats for range reads."""
        from end_end_data_pipeline__spark.sources import manifest_table as mt
        from pyspark.sql import functions as F

        out = []
        for kind, v, arg in self.lookups:
            man = self._manifest(table, v)
            total = sum(len(fl) for fl in man["buckets"].values())
            if kind == "read_keys":
                kdf = self.spark.createDataFrame([(k,) for k in arg], "id long")
                wanted = {str(r[0]) for r in kdf.select(F.pmod(
                    F.xxhash64("id"), F.lit(self.N_BUCKETS))).distinct().collect()}
                kept = sum(len(fl) for b, fl in man["buckets"].items() if b in wanted)
            else:
                lo, hi, status = arg
                kept = len(mt.prune_files(man, [("created_at", ">=", lo),
                                                ("created_at", "<", hi),
                                                ("status", "=", status)]))
            out.append(1.0 - kept / max(1, total))
        return _mean(out)


WORKLOADS = {w.name: w for w in (LakeAnalytics, CdcIngest)}
