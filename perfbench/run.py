"""Benchmark entry point: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload lake_analytics --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The run

1. times a small fixed-work context probe (``host.probe_s``);
2. starts the program's own session (``session.get_spark`` defaults);
3. sets up the workload's inputs from the seed ``SETUP_REPS`` times and
   keeps the last copy (``setup_s`` = session start + median set-up);
4. runs one untimed warm-up pass, then timed untraced passes, one
   client thread in a closed loop, as many whole passes as fit in
   ``--seconds`` (at least one);
5. with ``--trace 1``, runs as many traced passes again (spans around
   the program's public calls plus Spark's counters per job group) and
   writes the spans and a layer report under ``.perfbench/``;
6. checks every output against the benchmark's own expected results
   (outside every timed span), counting a wrong result as a failed op.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics of
``BENCHMARK.json``, or with ``--trace 1`` its per-layer metrics).  The
lines before it give each timing's sample count and tail percentile.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
SETUP_REPS = 3
OUT_DIR = os.path.join(ROOT, ".perfbench")


def host_probe() -> float:
    """A fixed amount of pure-Python work; it attributes drift to the
    machine, never gates anything."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(600_000):
        acc = (acc * 31 + i) % 1_000_003
    return time.perf_counter() - t0


def _isolate(work: str) -> None:
    """Keep every scratch file of Spark and the JVM inside ``work``."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
        f"-Dderby.system.home={os.path.join(work, 'tmp')}")


def _stop(spark) -> None:
    """Stop Spark and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - a JVM that hangs is killed
                proc.kill()
                proc.wait()


def _loop(wl, seconds: float, tracer=None) -> list:
    """Closed loop: whole passes back to back, at least one, while the
    next pass, taken to last as long as the previous one, ends within
    ``seconds``.  The pass count then changes only when the pass time
    changes by a whole factor, not with small drift; later passes run
    warmer, so a count that flips from run to run splits the figures."""
    out, t0 = [], time.perf_counter()
    while True:
        out.append(wl.run_pass(len(out), tracer))
        if time.perf_counter() - t0 + out[-1].wall > seconds:
            return out


def _q(values: list[float], q: float) -> float:
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def _tail_q(n: int) -> float:
    """The highest percentile with at least ten samples beyond it."""
    return max(0.5, math.floor((1.0 - 10.0 / n) * 100) / 100) if n > 10 else 0.5


def failed(ops: list, bad: dict) -> list:
    """Ops that raised, and every run of an op whose result was wrong."""
    return [o for o in ops if not o.ok or o.name in bad]


def end_to_end(wl, passes: list, setup_s: float) -> tuple[dict, list[str]]:
    ops = [o.secs for p in passes for o in p.ops if o.kind == wl.primary and o.ok]
    items = sum(p.items for p in passes) / sum(p.items_s for p in passes)
    tq = _tail_q(len(ops))
    notes = [
        f"op_p50_ms: {len(ops)} '{wl.primary}' ops; p50 {1e3 * _q(ops, 0.5):.1f} ms, "
        f"p90 {1e3 * _q(ops, 0.9):.1f} ms, supported tail "
        f"p{round(tq * 100)} {1e3 * _q(ops, tq):.1f} ms; "
        f"ms: {sorted(round(1e3 * x) for x in ops)}",
        f"items_per_s: {wl.item} per second over {len(passes)} passes",
    ]
    return {
        "setup_s": setup_s,
        "op_p50_ms": 1e3 * _q(ops, 0.5),
        "items_per_s": items,
    }, notes


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    pkg = os.path.join(ROOT, "end_end_data_pipeline__spark", "__init__.py")
    if not os.path.isfile(pkg) or not os.path.isfile(spec_path):
        print(f"run from the root of a checkout: {pkg} or {spec_path} is missing",
              file=sys.stderr)
        return 2
    with open(spec_path) as fh:
        spec = json.load(fh)
    sys.path[:0] = [ROOT, HERE]

    import workloads  # noqa: E402 - needs the paths above
    from tracing import Tracer, layer_report, peak_rss_mib

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; "
              f"one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    probe_s = host_probe()
    work = os.path.join(OUT_DIR, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work)
    spark = None
    try:
        from end_end_data_pipeline__spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        get_spark_s = time.perf_counter() - t0

        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed)
        reps = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup(rep)
            reps.append(time.perf_counter() - t0)
        setup_s = get_spark_s + statistics.median(reps)
        t0 = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t0

        passes = _loop(wl, args.seconds)
        traced, tracer = [], None
        if args.trace:
            tracer = Tracer(spark)
            for mod, attr, layer, group in wl.wrapped:
                tracer.wrap(mod, attr, layer, group)
            try:
                traced = _loop(wl, args.seconds, tracer)
            finally:
                tracer.unwrap_all()

        t0 = time.perf_counter()
        bad = wl.verify(passes + traced)
        verify_s = time.perf_counter() - t0
        rss = peak_rss_mib()

        ops = [o for p in passes + traced for o in p.ops]
        failed_ops = failed(ops, bad)
        for p in passes + traced:
            for e in p.errors:
                print(f"error: {e}", file=sys.stderr)
        for name, why in bad.items():
            print(f"wrong result: {name}: {why}", file=sys.stderr)

        e2e, notes = end_to_end(wl, passes, setup_s)
        print(f"{args.workload} seed={args.seed}: setup reps {[round(r, 3) for r in reps]}, "
              f"get_spark {get_spark_s:.3f}s, warm {warm_s:.3f}s, verify {verify_s:.3f}s, "
              f"probe {probe_s:.3f}s, {time.perf_counter() - T_START:.1f}s since start")
        for n in notes:
            print(n)
        if args.trace:
            layers = wl.layers(tracer, traced)
            layers["session.get_spark_s"] = get_spark_s
            layers["peak_rss_mib"] = rss
            layers["host.probe_s"] = probe_s
            layers["bench.verify_s"] = verify_s
            layers["error_rate"] = len(failed_ops) / len(ops)
            layers["trace.overhead_ratio"] = (
                statistics.median([p.wall for p in traced])
                / statistics.median([p.wall for p in passes]))
            report = layer_report(wl, tracer, traced, layers)
            os.makedirs(OUT_DIR, exist_ok=True)
            with open(os.path.join(OUT_DIR, f"trace-{args.workload}-{args.seed}.json"),
                      "w") as fh:
                json.dump(report, fh, indent=1, default=str)
            for line in report["summary"]:
                print(line)
            # a layer the workload does not use reads 0
            metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)),
                                   "unit": m["unit"]} for m in spec["per_layer"]}
            extra = sorted(set(layers) - set(metrics))
            if extra:
                print(f"per-layer metrics missing from BENCHMARK.json: {extra}",
                      file=sys.stderr)
        else:
            metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                       for m in spec["end_to_end"]}
        result = {"correct": not failed_ops, "attempted": len(ops),
                  "failed": len(failed_ops), "metrics": metrics}
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(f"stopped {time.perf_counter() - T_START:.1f}s since start", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
