"""Registry-stats soundness fuzz (VERDICT r11 #2).

The small-result sort fusion (operators/query.py fused_sort) collapses
a query's result to one partition when registry stats bound it at
<= 1M rows.  Both plan shapes are correct, so an UNDER-estimate can
only mis-fuse a big sort (perf, not answers) -- but the invariant the
gate rests on ("stats.rows is exact and stats.keys is an upper bound
after ANY build -> refresh x N -> compact -> refresh interleaving")
was enforced by construction, not by a test.  This fuzz drives a
random interleaving of inserts, key-changing updates, deletes and
compactions against a driver-side model and asserts, at EVERY step:

- ``stats.rows`` == the exact live row count (the refresh accounting
  claims exactness: prev + delta - superseded);
- ``stats.keys`` >= exact distinct keys x (1 - HLL_SLACK).  keys is a
  sum of per-batch approx_count_distinct estimates (rsd ~5%) that
  never subtracts, so between compactions it overshoots (updates /
  deletes only shrink the true set); right after a compaction it is a
  single fresh HLL observation of the exact layout, where the only
  error is the HLL rsd itself.  HLL_SLACK documents that bounded
  multiplier -- the gate's 1M threshold has ~5% fuzz, never more.

The model is also cross-checked against the assembled view each step,
so a model bug cannot silently weaken the assertions.
"""

import random

import pytest
from pyspark.sql import functions as F

from mapreduce_spark.engine import Engine
from mapreduce_spark.operators.mapphase import MapSpec

VIEW = {
    "map": MapSpec(
        "lineitem",
        [("str", "l_returnflag"), ("str", "l_linestatus")],
        ("num", "l_quantity"),
    ),
    "reduce": "_sum",
}

# documented bounded multiplier on the HLL distinct-key estimate
# (approx_count_distinct default rsd is ~5%; 15% margin keeps the
# test deterministic-in-practice while still catching any structural
# under-count such as a forgotten layer)
HLL_SLACK = 0.15


@pytest.fixture(scope="module")
def universe(spark, sf_dir):
    """400 lineitem rows as plain dicts -- the doc universe the fuzz
    draws from.  id identity is (l_orderkey, l_linenumber)."""
    raw = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    rows = (
        raw.orderBy("l_orderkey", "l_linenumber").limit(500).collect()
    )
    # the driver fixture intentionally duplicates ~20% of
    # (l_orderkey, l_linenumber) pairs (the duplicate-collapse path,
    # tested elsewhere); the fuzz needs full control of doc identity,
    # so keep one row per id
    seen, pool = set(), []
    for r in rows:
        d = r.asDict()
        vid = (d["l_orderkey"], d["l_linenumber"])
        if vid not in seen:
            seen.add(vid)
            pool.append(d)
    return raw.schema, pool[:400]


def _step_batch(spark, schema, docs, deleted_ids):
    """Build one changes batch: live docs + tombstones."""
    df = spark.createDataFrame(docs, schema) if docs else None
    if deleted_ids:
        tomb = spark.createDataFrame(
            deleted_ids, schema
        ).withColumn("_deleted", F.lit(True))
        if df is not None:
            df = df.withColumn("_deleted", F.lit(False)).unionByName(
                tomb
            )
        else:
            df = tomb
    return df


@pytest.mark.parametrize("seed,compact_after", [
    (1201, 2),   # compact eagerly: stats re-observed most
    (1202, 3),   # the bench default
    (1203, 99),  # never compact: deepest stack, additive keys
])
def test_stats_soundness_under_interleaving(
    spark, sf_dir, tmp_path, universe, seed, compact_after
):
    schema, pool = universe
    rng = random.Random(seed)
    eng = Engine(
        spark, sf_dir, str(tmp_path / f"v{seed}"),
        compact_after=compact_after,
    )
    eng.put_design("d", {"v": VIEW})

    model: dict[tuple, dict] = {}   # id -> live doc
    next_new = 0
    flags = ["A", "N", "R", "X", "Y", "Z"]  # X/Y/Z grow the key set

    def exact():
        live = list(model.values())
        keys = {(d["l_returnflag"], d["l_linestatus"]) for d in live}
        return len(live), len(keys)

    for step in range(8):
        inserts, updates, deletes = [], [], []
        n_ins = rng.randint(0, 40)
        for d in pool[next_new:next_new + n_ins]:
            inserts.append(dict(d))
        next_new += len(inserts)
        live_ids = list(model)
        rng.shuffle(live_ids)
        for vid in live_ids[: rng.randint(0, 15)]:
            d = dict(model[vid])
            d["l_returnflag"] = rng.choice(flags)
            d["l_quantity"] = d["l_quantity"] + 1.0
            updates.append(d)
        remaining = [
            i for i in live_ids if i not in
            {(u["l_orderkey"], u["l_linenumber"]) for u in updates}
        ]
        for vid in remaining[: rng.randint(0, 8)]:
            deletes.append(model[vid])
        if not (inserts or updates or deletes):
            continue

        batch = _step_batch(spark, schema, inserts + updates, deletes)
        eng.update_view("d/v", changes=batch)

        for d in inserts + updates:
            model[(d["l_orderkey"], d["l_linenumber"])] = d
        for d in deletes:
            model.pop((d["l_orderkey"], d["l_linenumber"]), None)

        sig = eng.registry.resolve("d", "v")
        entry = eng.registry.get_view(sig)
        stats = entry["stats"]
        exp_rows, exp_keys = exact()

        # model cross-check: the assembled view agrees with the model
        asm = eng._assemble_view(sig)
        got_rows, got_keys = (
            asm.agg(
                F.count(F.lit(1)), F.count_distinct("key_enc")
            ).collect()[0]
        )
        assert got_rows == exp_rows, (
            f"seed {seed} step {step}: view has {got_rows} rows, "
            f"model says {exp_rows} -- engine or model bug"
        )
        assert got_keys == exp_keys

        # the invariants the fused_sort gate rests on
        assert stats["rows"] == exp_rows, (
            f"seed {seed} step {step}: stats.rows={stats['rows']} "
            f"!= exact {exp_rows} (layers={len(entry['layers'])}, "
            f"base_version={entry['base_version']})"
        )
        assert stats["keys"] >= exp_keys * (1 - HLL_SLACK), (
            f"seed {seed} step {step}: stats.keys={stats['keys']} "
            f"under-bounds exact distinct {exp_keys} beyond HLL "
            f"slack (layers={len(entry['layers'])})"
        )
