"""Per-stage profiler for bench queries (guide §1: measure first).

Usage:
  python tools/profile_query.py x_dedup_minhash [runs]
  python tools/profile_query.py q18 [runs]

Runs the named query (EXT_BENCH_QUERIES or Inventory warm-mode qNN)
under ``mapreduce_spark.metrics.measure``, then prints the 25 stages of
that run with the most executor CPU, each with {job, stage, tasks, CPU,
run time, shuffle read/write MB, name}, so CPU can be attributed to a
specific operator in the plan.  Action = .write.format("noop")
(guide §1.4) unless --collect is passed (bench parity).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    name = sys.argv[1]
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    collect = "--collect" in sys.argv
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("profile_query")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedStages", "20000")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from mapreduce_spark.metrics import measure

    if name.startswith("q"):
        import tempfile

        from mapreduce_spark.engine import Engine
        from mapreduce_spark.inventory import Inventory

        eng = Engine(spark, sf_dir, tempfile.mkdtemp(prefix="prof-"))
        inv = Inventory(spark, sf_dir, engine=eng, warm=True)
        inv.materialize()
        mk = inv.all_queries()[name]
    else:
        from mapreduce_spark.extensions.inventory import EXT_BENCH_QUERIES

        def mk():
            return EXT_BENCH_QUERIES[name](spark, sf_dir)

    def act(df):
        if collect:
            df.collect()
        else:
            df.write.format("noop").mode("overwrite").save()

    act(mk())  # warmup
    for i in range(runs):
        spark.catalog.clearCache()
        with measure(spark, f"prof-{name}-{i}") as m:
            act(mk())
        print(f"\n=== run {i}: wall {m['wall']:.3f}s  "
              f"stages {m['stages']}  cpu {m['cpu_ns'] / 1e9:.2f}s ===")
        top = sorted(m["stages_detail"], key=lambda r: -r["cpu_ns"])
        for r in top[:25]:
            print(f"  j{r['job']:<4} s{r['stage']:<5} t{r['tasks']:<4} "
                  f"cpu {r['cpu_ns'] / 1e9:7.2f}s "
                  f"run {r['run_ms'] / 1e3:7.2f}s "
                  f"sr {r['shuffle_read'] / 1e6:6.2f} "
                  f"sw {r['shuffle_write'] / 1e6:6.2f}  {r['name'][:70]}")


if __name__ == "__main__":
    main()
