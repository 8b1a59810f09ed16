"""Measurement plumbing: in-memory spans with per-layer self time, Spark
counters per job group, SQL execution start times, a streaming progress
listener, the layer report, and process memory from ``/proc``.

Spans are recorded from the benchmark's side of each public call; the
program itself is never edited.  ``Tracer.wrap`` replaces a module
attribute for the length of a traced pass (callers that resolve the
function through the module, as the program does, see the wrapper).
"""

from __future__ import annotations

import importlib
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

COUNTER_KEYS = (
    "jobs", "stages", "tasks", "task_run_s", "gc_s", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "failed_tasks",
)


# ---------------------------------------------------------------------------
# Spark counters per job group
# ---------------------------------------------------------------------------

def group_counters(spark, groups: list[str]) -> dict[str, float]:
    """Sum Spark's own job/stage/task counters over every job in
    ``groups``.  Uses the status tracker for job -> stage membership
    and the application status store for stage metrics (both work with
    the UI disabled)."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    no_q = sc._gateway.new_array(sc._jvm.double, 0)
    empty = sc._jvm.java.util.ArrayList()
    out = dict.fromkeys(COUNTER_KEYS, 0.0)
    out.update(max_shuffle_write_records=0.0, job_wall_s=0.0,
               input_bytes=0.0, input_rows=0.0)
    stage_ids: set[int] = set()
    for g in groups:
        for j in st.getJobIdsForGroup(g):
            out["jobs"] += 1
            info = st.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
            job = store.job(j)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                out["job_wall_s"] += (done.get().getTime() - sub.get().getTime()) / 1000.0
    for s in sorted(stage_ids):
        seq = store.stageData(s, False, empty, False, no_q)
        for i in range(seq.size()):
            d = seq.apply(i)
            done = d.numCompleteTasks() + d.numFailedTasks()
            if done == 0:
                continue  # skipped stage: its shuffle output was reused
            out["stages"] += 1
            out["tasks"] += done
            out["failed_tasks"] += d.numFailedTasks()
            out["task_run_s"] += d.executorRunTime() / 1000.0
            out["gc_s"] += d.jvmGcTime() / 1000.0
            out["shuffle_write_bytes"] += d.shuffleWriteBytes()
            out["shuffle_read_bytes"] += d.shuffleReadBytes()
            out["spill_bytes"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
            out["input_bytes"] += d.inputBytes()
            out["input_rows"] += d.inputRecords()
            out["max_shuffle_write_records"] = max(
                out["max_shuffle_write_records"], float(d.shuffleWriteRecords()))
    return out


def sql_executions(spark) -> list[tuple[int, float]]:
    """(id, start epoch seconds) of every SQL execution so far.  Spark
    posts an execution's start once its physical plan exists."""
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return [(execs.apply(i).executionId(), execs.apply(i).submissionTime() / 1000.0)
            for i in range(execs.size())]


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

@dataclass
class Span:
    layer: str
    name: str
    start: float
    start_wall: float
    end: float = 0.0
    end_wall: float = 0.0
    parent: "Span | None" = None
    group: str | None = None
    children_s: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.children_s


class Tracer:
    """In-memory span recorder.  Each thread keeps its own stack; a span
    opened on a thread with an empty stack (a streaming callback) hangs
    under the span currently open on the thread that created the
    tracer, so its time is not counted twice in self time."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._main_stack: list[Span] = self._stack()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    @contextmanager
    def span(self, layer: str, name: str, group: str | None = None):
        """Time a block.  With ``group``, jobs started on this thread
        inside the block run under that Spark job group (the previous
        group is restored afterwards)."""
        stack = self._stack()
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None)
        sp = Span(layer, name, time.perf_counter(), time.time(), parent=parent, group=group)
        prev_group = None
        if group is not None:
            jsc = self.spark.sparkContext._jsc
            prev_group = jsc.getLocalProperty("spark.jobGroup.id")
            jsc.setLocalProperty("spark.jobGroup.id", group)
        stack.append(sp)
        try:
            yield sp
        finally:
            stack.pop()
            sp.end, sp.end_wall = time.perf_counter(), time.time()
            if group is not None:
                self.spark.sparkContext._jsc.setLocalProperty(
                    "spark.jobGroup.id", prev_group)
            with self._lock:
                if parent is not None:
                    parent.children_s += sp.dur
                self.spans.append(sp)

    def wrap(self, module_name: str, attr: str, layer: str, group_prefix: str | None):
        """Replace ``module.attr`` with a spanned wrapper until
        :meth:`unwrap_all`.  With ``group_prefix`` every call runs under
        its own job group ``<prefix>#<n>``."""
        module = importlib.import_module(module_name)
        orig = getattr(module, attr)
        counter = iter(range(1 << 30))

        def wrapper(*args, **kwargs):
            g = f"{group_prefix}#{next(counter)}" if group_prefix else None
            with self.span(layer, attr, group=g):
                return orig(*args, **kwargs)

        self._patched.append((module, attr, orig))
        setattr(module, attr, wrapper)

    def unwrap_all(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_time_by_layer(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.layer] = out.get(s.layer, 0.0) + s.self_s
        return out


def layer_report(wl, tracer: Tracer, traced: list, layers: dict) -> dict:
    """Self time per layer (per traced pass), its top three, the
    ``lake_analytics`` build / eager-job / plan / exec split per op,
    every per-layer metric and every span."""
    n = len(traced)
    self_s = {k: v / n for k, v in tracer.self_time_by_layer().items()}
    top = sorted(self_s.items(), key=lambda kv: -kv[1])[:3]
    summary = [f"top layers by self time per pass: "
               + ", ".join(f"{k} {v:.3f}s" for k, v in top)]
    report = {"workload": wl.name, "traced_passes": n, "self_s": self_s,
              "top3": top, "metrics": layers}
    if hasattr(wl, "split"):
        report["split"] = wl.split(tracer, traced)
        for op, d in report["split"].items():
            summary.append(f"  {op}: " + ", ".join(f"{k} {v:.3f}" for k, v in d.items()))
    ids = {id(s): i for i, s in enumerate(tracer.spans)}
    report["spans"] = [
        {"layer": s.layer, "name": s.name, "start": s.start, "dur": s.dur,
         "self": s.self_s, "group": s.group,
         "counters": group_counters(wl.spark, [s.group]) if s.group else None,
         "parent": ids.get(id(s.parent)) if s.parent is not None else None}
        for s in tracer.spans]
    report["summary"] = summary
    return report


# ---------------------------------------------------------------------------
# streaming progress
# ---------------------------------------------------------------------------

def progress_listener():
    """A ``StreamingQueryListener`` that keeps every progress update
    (``recentProgress`` keeps only the last 100)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def __init__(self):
            self.progress: list = []
            self._lock = threading.Lock()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            with self._lock:
                self.progress.append({
                    "run_id": str(p.runId), "batch_id": p.batchId,
                    "rows": p.numInputRows, "duration_ms": dict(p.durationMs),
                })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def for_run(self, run_id: str) -> list[dict]:
            with self._lock:
                return [p for p in self.progress
                        if p["run_id"] == run_id and p["rows"] > 0]

    return _Listener()


# ---------------------------------------------------------------------------
# memory
# ---------------------------------------------------------------------------

def _status_kib(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            out.append(int(entry))
    return out


def child_jvm_pids() -> list[int]:
    """JVMs started by this process (spark-submit's java, possibly under
    a launcher shell)."""
    found, todo = [], _children(os.getpid())
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/comm") as fh:
                comm = fh.read().strip()
        except OSError:
            continue
        if comm == "java":
            found.append(pid)
        else:
            todo.extend(_children(pid))
    return found


def peak_rss_mib() -> float:
    """Peak resident set (VmHWM) of this Python process plus the Spark
    JVM it started, in MiB."""
    kib = _status_kib(os.getpid(), "VmHWM")
    kib += sum(_status_kib(p, "VmHWM") for p in child_jvm_pids())
    return kib / 1024.0
