"""mapreduce_spark.metrics: job-group attribution of refreshes, queries
and fused ddoc builds, and restoring the caller's job group."""

from pyspark.sql import functions as F

from mapreduce_spark.engine import Engine
from mapreduce_spark.metrics import measure
from mapreduce_spark.operators.mapphase import MapSpec


def _last_job(spark) -> int:
    """Id of a marker job run now.  Job ids are consecutive, so the
    ids between two markers are every job the store gained."""
    with measure(spark, "marker") as m:
        spark.range(1).collect()
    return max(r["job"] for r in m["stages_detail"])


def _jobs(m) -> set[int]:
    return {r["job"] for r in m["stages_detail"]}


def test_refresh_then_query_metrics(spark, sf_dir, tmp_path):
    eng = Engine(spark, sf_dir, str(tmp_path / "views"))
    eng.put_design("m", {"qty": {
        "map": MapSpec("lineitem", ("str", "l_returnflag"),
                       ("num", "l_quantity")),
        "reduce": "_sum",
    }})
    raw = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    first = F.col("l_orderkey") % 2 == 0
    eng.update_view("m/qty", changes=raw.filter(first))

    lo = _last_job(spark)
    with measure(spark, "refresh-query") as m:
        eng.update_view("m/qty", changes=raw.filter(~first))
        rows = eng.query("m/qty", group=True, stale="ok").rows()
    hi = _last_job(spark)

    assert rows
    assert m["jobs"] > 0
    assert _jobs(m) == set(range(lo + 1, hi))
    assert m["jobs"] == hi - lo - 1
    assert m["tasks"] > 0 and m["cpu_ns"] > 0 and m["wall"] > 0
    recs = m["stages_detail"]
    assert m["stages"] == sum(1 for r in recs if r["tasks"]) > 0
    for k in ("tasks", "cpu_ns", "shuffle_read", "shuffle_write"):
        assert m[k] == sum(r[k] for r in recs), k


# Spark jobs per update_view of lineitem at sf0.001 with compact_after=2.
# The superseded-row count rides the lcounts write (one broadcast of the
# changed ids instead of a four-job count after it), and a refresh that
# compacts skips it: 9 -> 6 for the first layer (which also writes the
# base counts file) and 12 -> 8 for the compacting second layer.  The
# small count writes and the compaction's sorted write then ran as one
# task with no exchange: 6 -> 4 and 8 -> 5.  The compaction's fold then
# assembled the view in one task, without its tombstone broadcasts:
# 5 -> 3.  The base counts file was then written with the base, by the
# build and the compaction, instead of in a first-layer job of its own:
# 4 -> 3 for the first layer.
REFRESH_JOB_CEILINGS = {"layer": 3, "compacting": 3}


def test_refresh_job_ceilings(spark, sf_dir, tmp_path):
    eng = Engine(spark, sf_dir, str(tmp_path / "views"), compact_after=2)
    eng.put_design("m", {"qty": {
        "map": MapSpec("lineitem", ("str", "l_returnflag"),
                       ("num", "l_quantity")),
        "reduce": "_sum",
    }})
    raw = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    part = F.col("l_orderkey") % 3
    eng.update_view("m/qty", changes=raw.filter(part == 0))
    jobs = {}
    for phase, k in (("layer", 1), ("compacting", 2)):
        with measure(spark, f"refresh-{phase}") as m:
            eng.update_view("m/qty", changes=raw.filter(part == k))
        jobs[phase] = m["jobs"]
    print(f"refresh jobs: {jobs}")
    entry = eng.registry.get_view(eng.registry.resolve("m", "qty"))
    assert not entry["layers"] and entry["base_version"] == 2
    assert entry["stats"]["rows"] == raw.count()
    over = {p: n for p, n in jobs.items() if n > REFRESH_JOB_CEILINGS[p]}
    assert not over, f"refresh job count above ceiling: {over}"


# Spark jobs per ddoc update of two lineitem views at sf0.001 (the
# shape of test_engine.REFRESH_VIEWS), compact_after large enough that
# no compaction runs.  Both entry points fuse the views whatever their
# built state: a first build is one job (both bases and counts in one
# one-task write) and a first-layer refresh five (the delta write, then
# each view's broadcast and lcounts write).  When each entry point ran
# the other's job per view these read 2 (a first build by refresh_ddoc)
# and 6 (a refresh by build_ddoc).
DDOC_JOB_CEILINGS = {"refresh_ddoc build": 1, "build_ddoc layer": 5,
                     "refresh_ddoc layer": 5}
DDOC_VIEWS = {
    "by_flag": {"map": MapSpec(
        "lineitem", [("str", "l_returnflag"), ("str", "l_linestatus")],
        ("num", "l_quantity"),
    ), "reduce": "_sum"},
    "big_qty": {"map": MapSpec(
        "lineitem", ("num", "l_quantity"), ("num", "l_extendedprice"),
        where="l_quantity > 45",
    )},
}


def test_ddoc_job_ceilings(spark, sf_dir, tmp_path):
    raw = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    seq = (F.col("l_orderkey") * 8 + F.col("l_linenumber")).cast("long")
    mid = raw.agg(F.max(seq)).collect()[0][0] // 2
    jobs = {}
    for entry_point in ("build_ddoc", "refresh_ddoc"):
        eng = Engine(spark, sf_dir, str(tmp_path / entry_point),
                     compact_after=99)
        # a first read of the table fills the footer-schema cache with
        # a job of its own: a one-time cost, not the ddoc plan's
        eng._load_table("lineitem")
        eng.put_design("dd", DDOC_VIEWS)
        with measure(spark, "ddoc-build") as m:
            eng.refresh_ddoc("dd", to_seq=mid)
        jobs["refresh_ddoc build"] = max(m["jobs"],
                                         jobs.get("refresh_ddoc build", 0))
        with measure(spark, "ddoc-layer") as m:
            getattr(eng, entry_point)("dd")
        jobs[f"{entry_point} layer"] = m["jobs"]
        for name in DDOC_VIEWS:
            entry = eng.registry.get_view(eng.registry.resolve("dd", name))
            assert entry["base"] == "base-v1", name
            assert len(entry["layers"]) == 1, name
    print(f"ddoc jobs: {jobs}")
    over = {k: n for k, n in jobs.items() if n > DDOC_JOB_CEILINGS[k]}
    assert not over, f"ddoc job count above ceiling: {over}"


def test_fused_ddoc_build_jobs_keep_the_callers_group(
        spark, sf_dir, tmp_path):
    """build_ddoc runs the fused table group on a pool thread; its jobs
    must still land in the caller's job group."""
    eng = Engine(spark, sf_dir, str(tmp_path / "views"))
    eng.put_design("dd", {
        "by_flag": {"map": MapSpec("lineitem", ("str", "l_returnflag"),
                                   ("num", "l_quantity"))},
        "big_qty": {"map": MapSpec("lineitem", ("num", "l_quantity"),
                                   None, where="l_quantity > 45")},
    })
    lo = _last_job(spark)
    with measure(spark, "build") as m:
        eng.build_ddoc("dd")
    hi = _last_job(spark)
    assert hi - lo - 1 > 0
    assert _jobs(m) == set(range(lo + 1, hi))
    assert m["jobs"] == hi - lo - 1


def test_measure_restores_the_enclosing_job_group(spark):
    sc = spark.sparkContext
    with measure(spark, "bare"):
        spark.range(2).collect()
    assert sc.getLocalProperty("spark.jobGroup.id") is None

    sc.setJobGroup("outer", "outer job")
    try:
        with measure(spark, "inner") as m:
            spark.range(2).collect()
        assert m["jobs"] > 0
        assert sc.getLocalProperty("spark.jobGroup.id") == "outer"
        assert sc.getLocalProperty("spark.job.description") == "outer job"
    finally:
        sc._jsc.clearJobGroup()
