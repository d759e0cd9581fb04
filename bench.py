"""Benchmark harness (BASELINE.md protocol).

Runs the SURVEY §2.1 inventory at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]:

- COLD: materialize every fixture view to sorted Parquet (build time);
- WARM: each query against the persisted indexes, stale='ok',
  median of N runs (default 3).

Prints ONE JSON line:
  {"metric": "warm_total_sec_read_path", "value": <sum of medians>,
   "unit": "sec", "queries_counted": N, "queries": {"q01": sec, ...},
   "sf": <sf>, "cold_build_sec": <total build>,
   "cold_build_cpu_sec": s, "cpus": N}

The driver records only a bounded tail of this process's output (the
round-8 line with inline per-query {wall, cpu, shuffle} grew past the
window and was recorded as ``parsed: null``), so the printed line is
kept deliberately small and the FULL attribution payload — per-query
{wall, cpu, shuffle} medians, layered-read details, run count — is
written to ``BENCH_DETAIL.json`` next to this script instead.

Every sample runs under its own Spark job group; executor CPU time and
shuffle-write bytes are summed from the AppStatusStore over exactly
that group's stages.  Wall medians stay the headline for driver
compatibility; CPU medians are the round-over-round regression signal
(this box has a ±40% whole-run steal band — BASELINE.md round 7).

``value`` totals every inventory read-path query (q18 excluded — it is
the M1 maintenance metamorphic check, reported separately under
``maintenance_q18_sec``); extension operators are benched individually
in ``queries`` but not added to the headline.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import tempfile
import time

from mapreduce_spark.metrics import measure, stage_records


def _group_metrics(spark, group: str | None = None) -> tuple[int, int]:
    """(executor CPU ns, shuffle-write bytes) over the stages of
    ``group``'s jobs, or of every stage in the status store."""
    recs = stage_records(spark, group)
    return (sum(r["cpu_ns"] for r in recs),
            sum(r["shuffle_write"] for r in recs))


def _store_totals(spark) -> tuple[int, int]:
    """``_group_metrics`` over every stage in the status store."""
    return _group_metrics(spark)


def _timed_samples(spark, fn, runs: int, label: str,
                   before=None) -> dict:
    """Median {wall, cpu, shuffle} over ``runs`` invocations of ``fn``
    (each measured under its own job group)."""
    ms = []
    for i in range(runs):
        if before is not None:
            before()
        with measure(spark, f"{label}-{i}") as m:
            fn()
        ms.append(m)
    return {
        "wall": round(statistics.median(m["wall"] for m in ms), 4),
        "cpu": round(statistics.median(m["cpu_ns"] for m in ms) / 1e9, 4),
        "shuffle": int(statistics.median(m["shuffle_write"] for m in ms)),
    }


def _layered_read_overhead(spark, sf_dir: str, runs: int) -> dict:
    """LSM read-path overhead at depth (SURVEY §7.3 / VERDICT r1 #7):
    build one view as base + 9 (tomb, delta) layers, time a grouped
    read on the 10-piece stack, compact, time it again.  Reported as
    {layered_read_sec, compacted_read_sec, layered_read_ratio}."""
    from pyspark.sql import functions as F

    from mapreduce_spark.engine import Engine
    from mapreduce_spark.operators.mapphase import MapSpec

    store = tempfile.mkdtemp(prefix="mrlayers-")
    try:
        eng = Engine(spark, sf_dir, store, compact_after=99)
        view = {
            "map": MapSpec(
                "lineitem",
                [("str", "l_returnflag"), ("str", "l_linestatus")],
                ("num", "l_quantity"),
            ),
            "reduce": "_sum",
        }
        eng.put_design("layers", {"v": view})
        raw = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        seq = (F.col("l_orderkey") * 8 + F.col("l_linenumber")).cast(
            "long"
        )
        hi = raw.agg(F.max(seq)).collect()[0][0]
        step = hi // 10 + 1
        for i in range(10):
            eng.update_view(
                "layers/v",
                changes=raw.filter(
                    (seq > i * step) & (seq <= (i + 1) * step)
                ),
            )

        def timed() -> float:
            samples = []
            for _ in range(runs):
                t = time.time()
                eng.query("layers/v", group_level=2,
                          stale="ok").df.collect()
                samples.append(time.time() - t)
            return round(statistics.median(samples), 4)

        layered = timed()
        sig = eng.registry.resolve("layers", "v")
        eng._compact(sig, eng.registry.get_view(sig))
        compacted = timed()
        return {
            "layered_read_sec": layered,
            "compacted_read_sec": compacted,
            "layered_read_ratio": round(layered / max(compacted, 1e-9),
                                        2),
        }
    finally:
        shutil.rmtree(store, ignore_errors=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("mapreduce_spark_bench")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # progress bars interleave with stdout in the driver's bounded
        # output capture — keep the final JSON line clean
        .config("spark.ui.showConsoleProgress", "false")
        # metric attribution reads the status store; don't let stage
        # eviction drop cold-build stages before the post-build walk
        .config("spark.ui.retainedStages", "20000")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from mapreduce_spark.engine import Engine
    from mapreduce_spark.inventory import Inventory

    store = tempfile.mkdtemp(prefix="mrbench-")
    try:
        eng = Engine(spark, sf_dir, store)
        inv = Inventory(spark, sf_dir, engine=eng, warm=True)

        with measure(spark, "cold-build") as cold:
            inv.materialize()

        per_query: dict[str, float] = {}
        query_metrics: dict[str, dict] = {}
        for name, fn in inv.all_queries().items():
            fn().collect()  # warmup (plan/codegen caches)
            m = _timed_samples(
                spark, lambda: fn().collect(), runs, name
            )
            per_query[name] = m["wall"]
            query_metrics[name] = m

        # q18 is a REBUILD-equivalence metamorphic check (two full
        # builds + a delta merge by construction) — it measures M1
        # maintenance, not the read path, so it reports under its own
        # metric instead of inflating the warm read-path headline
        maintenance_q18 = per_query.get("q18")
        total = round(
            sum(v for k, v in per_query.items() if k != "q18"), 4
        )
        read_path_count = len([k for k in per_query if k != "q18"])

        # training-data extension headliners (corpus-level batch jobs).
        # Median of `runs` like the inventory queries: single-shot
        # timings on a long-lived session swing several-× with GC /
        # block-manager state, which made earlier rounds' numbers
        # unreproducible.  Cache cleared between operators so one
        # query's persisted intermediates can't pressure the next.
        from mapreduce_spark.extensions.inventory import (
            EXT_BENCH_QUERIES,
        )

        # every extension oracle row gets a bench number (a perf
        # regression in any operator must be visible round-over-round)
        for name in sorted(EXT_BENCH_QUERIES):
            spark.catalog.clearCache()
            EXT_BENCH_QUERIES[name](spark, sf_dir).collect()  # warmup
            m = _timed_samples(
                spark,
                lambda: EXT_BENCH_QUERIES[name](spark, sf_dir)
                .collect(),
                runs, name, before=spark.catalog.clearCache,
            )
            per_query[name] = m["wall"]
            query_metrics[name] = m

        layered = _layered_read_overhead(spark, sf_dir, runs)
        summary = {
            "metric": "warm_total_sec_read_path",
            "value": total,
            "queries_counted": read_path_count,
            "unit": "sec",
            "queries": {k: round(v, 3) for k, v in per_query.items()},
            "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            "cold_build_sec": round(cold["wall"], 2),
            "maintenance_q18_sec": maintenance_q18,
            "cpus": int(cpus),
            # the two CPU scalars the driver record needs to
            # adjudicate a wall swing without BENCH_DETAIL.json
            # (round-9 lesson: wall-only lines can't separate host
            # steal from plan regressions)
            "warm_cpu_sec": round(sum(
                m.get("cpu", 0.0) or 0.0
                for k, m in query_metrics.items() if k != "q18"
            ), 2),
            "cold_build_cpu_sec": round(cold["cpu_ns"] / 1e9, 2),
        }
        # per-query medians of {wall s, executor-CPU s, shuffle-write
        # bytes}: CPU/shuffle are the attribution signal the box's
        # ±40% steal band can't wash out (round-over-round deltas
        # should be read in CPU terms, BASELINE.md round 8).  The
        # detail file carries them; the printed line must stay inside
        # the driver's bounded output capture.
        detail = dict(
            summary,
            query_metrics=query_metrics,
            cold_build_cpu_sec=round(cold["cpu_ns"] / 1e9, 4),
            cold_build_shuffle_bytes=int(cold["shuffle_write"]),
            runs=runs,
            **layered,
        )
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "BENCH_DETAIL.json"), "w"
        ) as fh:
            json.dump(detail, fh, indent=1)
        line = json.dumps(summary)
        if len(line) > 1800:  # never outgrow the capture window again
            summary["queries"] = {
                k: round(v, 2) for k, v in sorted(
                    per_query.items(), key=lambda kv: -kv[1]
                )[:40]
            }
            line = json.dumps(summary)
        print(line, flush=True)
    finally:
        shutil.rmtree(store, ignore_errors=True)


if __name__ == "__main__":
    main()
