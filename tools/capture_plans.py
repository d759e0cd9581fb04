"""Capture .explain('formatted') for every declared query.

Usage: python tools/capture_plans.py <outdir> [name ...]

Writes <outdir>/<name>_<tag>.txt for each query (tag from argv[-1]
style `--tag before`; default 'plan').  Warm-mode inventory queries
are planned against a materialized engine (same shape the bench
times); extension queries plan straight from the parquet inputs.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _printable(plan: str) -> str:
    """Escape control characters other than newline and tab as
    ``\\xNN``: a regex literal in a plan can carry a NUL, which makes
    git store the capture as binary and refuse to diff it."""
    return re.sub(
        r"[\x00-\x08\x0b-\x1f\x7f]",
        lambda m: f"\\x{ord(m.group()):02x}",
        plan,
    )


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    outdir = args[0]
    only = set(args[1:])
    tag = "plan"
    for a in sys.argv[1:]:
        if a.startswith("--tag="):
            tag = a.split("=", 1)[1]
    os.makedirs(outdir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("capture_plans")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import tempfile

    from mapreduce_spark.engine import Engine
    from mapreduce_spark.extensions.inventory import EXT_BENCH_QUERIES
    from mapreduce_spark.inventory import Inventory

    eng = Engine(spark, sf_dir, tempfile.mkdtemp(prefix="plans-"))
    inv = Inventory(spark, sf_dir, engine=eng, warm=True)
    inv.materialize()

    items = {}
    items.update(inv.all_queries())
    for k, fn in EXT_BENCH_QUERIES.items():
        items[k] = (lambda f: (lambda: f(spark, sf_dir)))(fn)

    for name, fn in sorted(items.items()):
        if only and name not in only:
            continue
        try:
            df = fn()
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # noqa: BLE001 — record the failure
            plan = f"EXPLAIN FAILED: {type(e).__name__}: {e}"
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(_printable(plan))
        print(f"wrote {path} ({len(plan)} bytes)")


if __name__ == "__main__":
    main()
