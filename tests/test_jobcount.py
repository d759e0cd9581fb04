"""Jobs-per-query regression gate (VERDICT r11 #1).

The r8-r10 driver-wall drift (9.7 -> 16.0 s at byte-identical
shuffles) was pure Spark-job-count growth: each job pays a
0.1-0.3 s scheduling round-trip under co-tenant contention, so the
warm wall tracks JOB COUNT, not CPU.  Round 11 cut the read path
130 -> 79 jobs (stats-gated sort fusion, footer-schema cache, static
semi-prune, pk_unique collapse skip) and halved the wall at flat
CPU -- but nothing enforced the win, and the same silent drift can
recur with any future feature.  This test pins a per-query job
CEILING at the r12 measured values (identical at sf0.001 and
sf0.01 -- the counts are plan-shape facts, not data facts).

Stages are NOT pinned: AQE can legally re-split stages run to run
(q12 measured 8 stages at sf0.01 vs 5 at sf0.001 with the same 4
jobs).  Jobs are scheduler round-trips and deterministic for a
fixed plan shape.

If this test fails LOW (a query now uses fewer jobs), lower the
ceiling -- the gate should stay tight.  If it fails HIGH, a feature
added a Spark job to the warm read path: either fuse it (see
operators/query.py fused_sort, sources/docs.py schema cache for the
round-11 levers) or consciously raise the ceiling with a comment
explaining what the extra job buys.
"""

import tempfile

import pytest

from mapreduce_spark.engine import Engine
from mapreduce_spark.inventory import VIEW_DEFS, Inventory
from mapreduce_spark.metrics import measure

# Measured at sf0.001 AND sf0.01 (2026-08-15, round 12): identical job
# counts at both scales.  q18 17 -> 14: its incremental refresh counts
# the rows it supersedes inside the lcounts write (one broadcast job)
# instead of a four-job count afterwards.  q18 14 -> 12: the base-counts
# and lcounts writes of a small view run as one task with no exchange.
# Then 93 -> 54 in total: a view of at most sizing.ONE_TASK_VIEW_MAX_ROWS
# scanned rows is assembled in one task (no tombstone broadcasts, no
# aggregate or sort exchange), so most reads run one job; q31's three
# oracle legs (one per storage layout) went 4 -> 1, q18 12 -> 10.
# Then 54 -> 52: a temporary view whose source files total at most
# sizing.FANOUT_MIN_BYTES is mapped in one task, so q17's map query over
# the nation table has no exchange (3 -> 1).
# test_warm_read_path_job_ceilings prints every query's count (pytest
# -s or -rA shows it; SPARK_GRAFT_TEST_SF sets the scale).
JOB_CEILINGS = {
    "q01": 1, "q02": 1, "q04": 1, "q05": 1, "q06": 1, "q07": 1,
    "q08": 1, "q09": 2, "q10": 1, "q11": 3, "q12": 3, "q13": 1,
    "q14": 1, "q15": 1, "q16": 1, "q17": 1, "q18": 10, "q19": 1,
    "q20": 1, "q21": 2, "q22": 1, "q23": 1, "q24": 1, "q25": 1,
    "q26": 1, "q28": 1, "q29": 1, "q30": 1, "q31": 1, "q32": 1,
    "q33": 1, "q34": 4, "q35": 1, "q36": 1,
}


@pytest.fixture(scope="module")
def warm_inventory(spark, sf_dir):
    eng = Engine(spark, sf_dir, tempfile.mkdtemp(prefix="mrjobgate-"))
    inv = Inventory(spark, sf_dir, engine=eng, warm=True)
    inv.materialize()
    return inv


def test_warm_read_path_job_ceilings(spark, warm_inventory):
    """Every warm inventory query must stay at or below its pinned
    Spark-job ceiling.  One warmup run per query (first-touch
    schema/stat caches), then one measured run in a job group."""
    over = []
    under = []
    counts = {}
    for name, fn in warm_inventory.all_queries().items():
        fn().collect()  # warmup: one-time cache fills are not the gate
        with measure(spark, f"jobgate-{name}") as m:
            fn().collect()
        jobs = counts[name] = m["jobs"]
        ceiling = JOB_CEILINGS[name]
        if jobs > ceiling:
            over.append(f"{name}: {jobs} jobs > ceiling {ceiling}")
        elif jobs < ceiling:
            under.append(f"{name}: {jobs} < {ceiling}")
    print("warm read-path jobs per query: " +
          ", ".join(f"{k}={v}" for k, v in counts.items()))
    assert not over, (
        "warm read-path job-count regression (the r8-r10 wall-drift "
        "failure mode):\n  " + "\n  ".join(over)
    )
    # improvements are not failures, but keep the gate honest: a
    # future round should ratchet the ceilings down (reported via
    # -rA / verbose output, not an assert)
    if under:
        print("job ceilings now loose (ratchet down): " +
              ", ".join(under))


def test_total_warm_job_budget():
    """Belt-and-braces aggregate bound on the ceiling TABLE itself:
    per-query bumps ("just one more job") must not quietly re-grow
    the read path.  r12 measured total: 101 jobs across all 34
    queries including q18's full metamorphic rebuild (the r10
    regressed state was ~150 on the same counting; PLANS.md's
    130 -> 79 figures counted the non-maintenance read legs only).
    102 = 101 measured + 1 for q31's round-12 shredded-layout oracle
    leg (a deliberate +1-view coverage buy).  95 = the table's sum
    once q18's refresh accounting dropped 3 jobs (17 -> 14).  93 once
    its small count writes dropped their exchanges (14 -> 12).  54 once
    small views were assembled in one task for reads and compaction.
    52 once small temporary views were mapped in one task (q17 3 -> 1)."""
    assert sum(JOB_CEILINGS.values()) <= 52, (
        "ceiling table drifted past the round-12 measured state -- "
        "fuse the new job or justify the bump here"
    )


def test_view_defs_cover_ceiling_table():
    """The ceiling table and the inventory must stay in sync: a new
    query without a ceiling would silently skip the gate."""
    inv_names = set(
        "q01 q02 q04 q05 q06 q07 q08 q09 q10 q11 q12 q13 q14 q15 "
        "q16 q17 q18 q19 q20 q21 q22 q23 q24 q25 q26 q28 q29 q30 "
        "q31 q32 q33 q34 q35 q36".split()
    )
    assert set(JOB_CEILINGS) == inv_names
    assert VIEW_DEFS  # the warm fixture actually has views to build


# Extension rows that run the shared filter-and-refine core (bucket
# join, exact verification, top-k ranker, exact-or-LSH router):
# warm-run job counts measured at sf0.001 on local[4] (2026-10-20).
# Each measured run starts from an empty cache, so minhash_lsh_pairs'
# persisted frames never carry over from one row to the next.
EXT_JOB_CEILINGS = {
    "x_dedup_jaccard": 13, "x_dedup_minhash": 10,
    "x_dedup_clusters": 34, "x_dedup_embedding": 6,
    "x_sim_topk": 6, "x_sim_lsh": 18, "x_sim_ivf": 19,
    "x_pipeline": 40,
}


def test_extension_job_ceilings(spark, sf_dir):
    """Every extension row in EXT_JOB_CEILINGS stays at or below its
    pinned job count: one warmup run, then one measured run, each
    after ``clearCache()``."""
    from mapreduce_spark.extensions.inventory import EXT_QUERIES

    over = []
    counts = {}
    for name, ceiling in EXT_JOB_CEILINGS.items():
        fn = EXT_QUERIES[name]
        spark.catalog.clearCache()
        fn(spark, sf_dir).collect()
        spark.catalog.clearCache()
        with measure(spark, f"extgate-{name}") as m:
            fn(spark, sf_dir).collect()
        jobs = counts[name] = m["jobs"]
        if jobs > ceiling:
            over.append(f"{name}: {jobs} jobs > ceiling {ceiling}")
    print("extension jobs per row: " +
          ", ".join(f"{k}={v}" for k, v in counts.items()))
    assert not over, (
        "extension job-count regression:\n  " + "\n  ".join(over)
    )
