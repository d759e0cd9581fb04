"""Benchmark of the mapreduce_spark engine.

    python3 perfbench/run.py --workload maintain_mixed --seed 1 \
        --seconds 5 --trace 0

Run from the root of a checkout.  One process starts Spark
``local[4]``, makes the workload's inputs from ``--seed``, sets the
workload up several times (timing each), warms up, and then runs
closed-loop operations from one thread for ``--seconds`` seconds,
checking every answer outside the timed span.  The last line of
standard output is one JSON object::

    {"correct": bool, "attempted": n, "failed": n, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones of
``BENCHMARK.json``; with ``--trace 1`` the per-layer ones, and the spans
are written to ``.bench_out/``.  Everything the run writes stays inside
the checkout (``.bench_work/``, removed at exit, and ``.bench_out/``).
See README.md in this directory for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

CORES = 4

E2E_UNITS = {"setup_s": "s", "jobs_per_op": "count", "tasks_per_op": "count",
             "peak_rss_mb": "MB"}
EXT = ("exact_dedup", "minhash_pairs", "components", "sample_pack")
LAYER_UNITS = {
    "op.p50_ms": "ms", "executor.cpu_ms_per_op": "ms",
    "process.cpu_ms_per_op": "ms",
    "engine.query_ms": "ms", "engine.query_jobs": "count",
    "operators.collect_ms": "ms", "operators.jobs_per_read": "count",
    "operators.tasks_per_read": "count", "operators.cpu_ms_per_read": "ms",
    "operators.shuffle_bytes_per_read": "bytes",
    "refresh.mapspec_ms": "ms", "refresh.variant_ms": "ms",
    "refresh.interp_ms": "ms", "refresh.jobs_per_batch": "count",
    "refresh.cpu_ms_per_change": "ms",
    "refresh.bytes_written_per_change": "bytes",
    "compact.count": "count", "compact.ms": "ms",
    "compact.bytes_rewritten": "bytes", "space_amp": "ratio",
    "plans.layer_depth_at_read": "count",
    "functions.put_design_ms": "ms", "setup.session_s": "s",
    "setup.build_s": "s", "setup.build_cpu_s": "s",
    "setup.build_jobs": "count",
    **{f"extensions.{s}_{k}": u for s in EXT
       for k, u in (("ms", "ms"), ("jobs", "count"), ("tasks", "count"),
                    ("cpu_ms", "ms"))},
    "trace.overhead_pct": "%",
}


def _args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def _check_checkout() -> None:
    """Fail before any work when the package under test is missing."""
    need = ("mapreduce_spark/engine.py", "bench.py",
            "tools/check_contract.py")
    missing = [n for n in need if not os.path.isfile(os.path.join(ROOT, n))]
    if missing:
        sys.stderr.write(f"not a checkout of the engine: missing "
                         f"{', '.join(missing)} under {ROOT}\n")
        sys.exit(2)


def _session(work: str):
    from pyspark.sql import SparkSession

    tmp = f"{work}/tmp"
    spark = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(CORES))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "5000")
        .config("spark.ui.retainedStages", "5000")
        .config("spark.driver.memory", "2g")
        .config("spark.local.dir", f"{work}/spark-local")
        .config("spark.sql.warehouse.dir", f"{work}/warehouse")
        # C1 JIT only: a run lasts about a minute, and C2's compile
        # threads would compete with the four task threads.  A fixed,
        # pre-touched heap keeps the JVM's resident size from depending
        # on when G1 chose to grow, so peak_rss_mb tracks what the run
        # adds (off-heap, Python driver and workers)
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:TieredStopAtLevel=1 "
                "-Xms2g -XX:+AlwaysPreTouch")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop Spark, end the JVM and wait until every process this run
    started has exited."""
    from spans import descendants

    proc = getattr(spark.sparkContext._gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while descendants() and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants():
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def _pct(xs: list[float], q: float) -> float:
    """Inclusive percentile ``q`` (0..1) by linear interpolation."""
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def e2e_metrics(ops: list[dict], setup: list[float],
                rss_mb: float) -> dict:
    # Wall-clock latency and throughput, and CPU time per operation, are
    # not among them: on a shared 4-core host they moved by 10-60%
    # between runs of the same code, more than the largest bound.  The
    # traced run reports them per layer.
    return {
        "setup_s": statistics.median(setup),
        "jobs_per_op": _mean(o["counters"].jobs for o in ops),
        "tasks_per_op": _mean(o["counters"].tasks for o in ops),
        "peak_rss_mb": rss_mb,
    }


def _latency_line(ops: list[dict]) -> str:
    walls = [o["wall"] for o in ops]
    return (f"op_p50_ms {_pct(walls, 0.5) * 1e3:.1f} "
            f"op_p90_ms {_pct(walls, 0.9) * 1e3:.1f} items_per_s "
            f"{sum(o['items'] for o in ops) / sum(walls):.2f} "
            f"ops {len(ops)}")


def _subtree(tracer, root: dict) -> list[dict]:
    ids = {root["id"]}
    out = [root]
    for rec in tracer.spans[root["id"] + 1:]:
        if rec["parent"] in ids:
            ids.add(rec["id"])
            out.append(rec)
    return out


def layer_metrics(wl, tracer, ops: list[dict]) -> dict:
    from spans import GroupCounters

    m = {k: 0.0 for k in LAYER_UNITS}
    traced = [o for o in ops if o["traced"]]
    dur = (lambda r: r["end"] - r["start"])

    # whole operations, from the untraced ones
    plain = [o for o in ops if not o["traced"]]
    m["op.p50_ms"] = _pct([o["wall"] for o in plain], 0.5) * 1e3
    m["executor.cpu_ms_per_op"] = _mean(
        o["counters"].cpu_ns for o in plain) / 1e6
    m["process.cpu_ms_per_op"] = _mean(o["cpu_s"] for o in plain) * 1e3

    # reads: a read_warm op, or a maintain_mixed step's "read" span
    reads = []
    for o in traced:
        if wl.name == "read_warm":
            reads.append(o["span"])
        else:
            reads += [r for r in _subtree(tracer, o["span"])
                      if r["name"] == "read"]
    if reads:
        q_ms, q_jobs, c_ms, tot = [], [], [], []
        for r in reads:
            sub = _subtree(tracer, r)
            q = [s for s in sub if s["name"] == "engine.query"]
            q_ms.append(sum(dur(s) for s in q) * 1e3)
            q_jobs.append(sum(s["counters"].jobs for s in q))
            c_ms.append(sum(dur(s) for s in sub
                            if s["name"] == "operators.collect") * 1e3)
            c = GroupCounters()
            for s in sub:
                if "counters" in s:
                    c += s["counters"]
            tot.append(c)
        m["engine.query_ms"] = _mean(q_ms)
        m["engine.query_jobs"] = _mean(q_jobs)
        m["operators.collect_ms"] = _mean(c_ms)
        m["operators.jobs_per_read"] = _mean(c.jobs for c in tot)
        m["operators.tasks_per_read"] = _mean(c.tasks for c in tot)
        m["operators.cpu_ms_per_read"] = _mean(c.cpu_ns for c in tot) / 1e6
        m["operators.shuffle_bytes_per_read"] = _mean(
            c.shuffle_bytes for c in tot)

    if wl.name == "maintain_mixed" and traced:
        for tier, xs in wl.refresh.items():
            m[f"refresh.{tier}_ms"] = _mean(xs) * 1e3
        # one batch is refreshed once per view
        m["refresh.jobs_per_batch"] = wl.refresh_jobs / (len(traced) / 3)
        m["refresh.cpu_ms_per_change"] = wl.refresh_cpu / 1e6 / wl.changes
        m["refresh.bytes_written_per_change"] = wl.written / wl.changes
        m["compact.count"] = wl.compact["count"]
        m["compact.ms"] = (wl.compact["s"] / wl.compact["count"] * 1e3
                           if wl.compact["count"] else 0.0)
        m["compact.bytes_rewritten"] = wl.compact["bytes"]
        m["plans.layer_depth_at_read"] = _mean(wl.depths)
        m["space_amp"] = wl.layer.get("space_amp", 0.0)

    if wl.name == "corpus_prep" and traced:
        for st in EXT:
            spans = [s for o in traced for s in _subtree(tracer, o["span"])
                     if s["name"] == f"extensions.{st}"]
            m[f"extensions.{st}_ms"] = _mean(dur(s) for s in spans) * 1e3
            m[f"extensions.{st}_jobs"] = _mean(
                s["counters"].jobs for s in spans)
            m[f"extensions.{st}_tasks"] = _mean(
                s["counters"].tasks for s in spans)
            m[f"extensions.{st}_cpu_ms"] = _mean(
                s["counters"].cpu_ns for s in spans) / 1e6

    for k in ("functions.put_design_ms", "setup.build_s",
              "setup.build_cpu_s", "setup.build_jobs"):
        if wl.layer.get(k):
            m[k] = statistics.median(wl.layer[k])
    m["setup.session_s"] = wl.layer["setup.session_s"]

    # tracing overhead: traced against untraced runs of the same kind of
    # operation, median over kinds; the run's first operation, which
    # pays first-use costs, is left out
    ratios = []
    ops = ops[1:]
    for kind in {o["kind"] for o in ops}:
        on = [o["wall"] for o in ops if o["kind"] == kind and o["traced"]]
        off = [o["wall"] for o in ops
               if o["kind"] == kind and not o["traced"]]
        if on and off:
            ratios.append(statistics.median(on) / statistics.median(off))
    if ratios:
        m["trace.overhead_pct"] = (statistics.median(ratios) - 1) * 100
    return m


def _instrument_engine(tracer) -> None:
    """Time Engine.query / query_batch (the call before collect) as
    ``engine.query`` spans in traced operations."""
    from mapreduce_spark.engine import Engine

    def wrap(fn):
        def timed(self, *a, **kw):
            # one span per outermost call when one entry point calls the
            # other
            if any(s["name"] == "engine.query" for s in tracer._stack):
                return fn(self, *a, **kw)
            with tracer.span("engine.query", group=True):
                return fn(self, *a, **kw)
        return timed

    Engine.query = wrap(Engine.query)
    Engine.query_batch = wrap(Engine.query_batch)


def main() -> int:
    args = _args()
    _check_checkout()
    sys.path[:0] = [HERE, ROOT]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        sys.stderr.write(f"unknown workload {args.workload!r}; one of "
                         f"{', '.join(WORKLOADS)}\n")
        return 2
    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(f"{work}/tmp", exist_ok=True)
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # no hsperfdata files under the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = f"{work}/tmp"

    from spans import RssSampler, Tracer

    sampler = RssSampler()
    sampler.start()
    spark = None
    try:
        spark = _session(work)
        session_s = time.perf_counter() - T_START
        tracer = Tracer(spark, enabled=False)
        if args.trace:
            _instrument_engine(tracer)
        wl = WORKLOADS[args.workload](spark, work, args.seed, tracer)
        wl.prepare()
        setup = []
        for i in range(wl.setup_reps):
            t = time.perf_counter()
            wl.setup_once(i)
            setup.append(time.perf_counter() - t)
        wl.layer["setup.session_s"] = session_s
        wl.warmup()
        first = len(wl.ops)
        wl.run(args.seconds, bool(args.trace))
        ops = wl.ops[first:]
        if args.trace and hasattr(wl, "teardown_layers"):
            wl.teardown_layers()
        rss_mb = sampler.stop()
        failed = [o for o in wl.ops if not o["ok"]]
        sys.stderr.write(
            f"setup_s {[round(x, 2) for x in setup]} layer "
            f"{ {k: v for k, v in wl.layer.items() if isinstance(v, list)} }"
            f" ops_s {[round(o['wall'], 2) for o in ops]} executor_cpu_s "
            f"{[round(o['counters'].cpu_ns / 1e9, 2) for o in ops]} "
            f"process_cpu_s {[round(o['cpu_s'], 2) for o in ops]} "
            f"tasks {[o['counters'].tasks for o in ops]} "
            f"{_latency_line(ops)}\n")
        for o in failed[:5]:
            sys.stderr.write(f"failed {o['kind']}: {o['error']}\n")
        if args.trace:
            metrics = layer_metrics(wl, tracer, ops)
            units = LAYER_UNITS
            tracer.dump(os.path.join(
                ROOT, ".bench_out",
                f"spans-{args.workload}-{args.seed}.jsonl"))
        else:
            metrics = e2e_metrics(ops, setup, rss_mb)
            units = E2E_UNITS
    finally:
        if sampler.is_alive():
            sampler.stop()
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's directory is still there
    print(json.dumps({
        "correct": not failed,
        "attempted": len(wl.ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
