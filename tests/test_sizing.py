"""The sizing rule (plans/sizing.py): which map-phase scans run as one
task, which spread across the cores and which keep their own
partitions, decided from the scan's file listing without a Spark job."""

import os

import pyarrow as pa
import pyarrow.parquet as pq

from mapreduce_spark.metrics import measure
from mapreduce_spark.plans import sizing


def _scan(spark, path, n_files):
    path.mkdir()
    for i in range(n_files):
        pq.write_table(
            pa.table({"a": list(range(i * 100, (i + 1) * 100))}),
            path / f"part-{i:05d}.parquet",
        )
    # an explicit schema: no footer-inference job
    return spark.read.schema("a long").parquet(str(path))


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_scan_width_and_spread_plans_run_no_job(
    spark, engine, tmp_path, monkeypatch
):
    """A frame with no files is neither one task nor spread; a local
    scan at the limit is coalesced below the collapse; one file above
    the limit is spread to ``defaultParallelism``; as many files as
    that keep their partitions.  The extensions' ``spread`` has no
    one-task half.  Deciding and planning all of it runs no job."""
    cores = spark.sparkContext.defaultParallelism
    assert cores > 1
    one_file = _scan(spark, tmp_path / "one", 1)
    many = _scan(spark, tmp_path / "many", cores)
    size = os.path.getsize(tmp_path / "one" / "part-00000.parquet")
    local = spark.createDataFrame([(1,)], "a long")
    spread_to = f"RoundRobinPartitioning({cores})"

    def collapse(df):
        return df.filter("a > 0")

    with measure(spark, "sizing") as m:
        assert sizing.scan_width(local) == 0
        df, width = engine._map_input(local, collapse)
        assert width == 0 and "Exchange" not in _plan(df)
        assert sizing.spread(local) is local

        monkeypatch.setattr(sizing, "FANOUT_MIN_BYTES", size)
        df, width = engine._map_input(one_file, collapse)
        plan = _plan(df)
        assert width == 1
        assert "Coalesce 1" in plan and "Exchange" not in plan, plan
        assert spread_to in _plan(sizing.spread(one_file))

        monkeypatch.setattr(sizing, "FANOUT_MIN_BYTES", size - 1)
        df, width = engine._map_input(one_file, collapse)
        plan = _plan(df)
        assert width == cores
        assert spread_to in plan and "Coalesce" not in plan, plan

        monkeypatch.setattr(sizing, "FANOUT_MIN_BYTES", 0)
        df, width = engine._map_input(many, collapse)
        plan = _plan(df)
        assert width == 0
        assert "Exchange" not in plan and "Coalesce" not in plan, plan
        assert sizing.spread(many) is many
    assert m["jobs"] == 0
