"""Engine lifecycle tests: persistence, compaction, cleanup, staleness,
envelope options — the parts the DuckDB oracle can't see."""

import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from mapreduce_spark.engine import Engine
from mapreduce_spark.functions import sandbox
from mapreduce_spark.metrics import measure
from mapreduce_spark.operators.mapphase import MapSpec
from mapreduce_spark.plans import sizing

VIEW = {
    "map": MapSpec(
        "lineitem",
        [("str", "l_returnflag"), ("str", "l_linestatus")],
        ("num", "l_quantity"),
    ),
    "reduce": "_sum",
}


def _rows(res):
    return sorted(
        (tuple(r["key"]), round(r["value"], 6)) for r in res.rows()
    )


def _batches(spark, sf_dir, n):
    """Split lineitem into n disjoint seq-ordered batches."""
    raw = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    seq = (F.col("l_orderkey") * 8 + F.col("l_linenumber")).cast("long")
    hi = raw.agg(F.max(seq)).collect()[0][0]
    step = hi // n + 1
    return [
        raw.filter((seq > i * step) & (seq <= (i + 1) * step))
        for i in range(n)
    ]


def test_compaction_preserves_results_and_vacuum_gcs(
    spark, sf_dir, tmp_path
):
    eng = Engine(spark, sf_dir, str(tmp_path), compact_after=3)
    eng.put_design("d", {"v": VIEW})
    for b in _batches(spark, sf_dir, 5):
        eng.update_view("d/v", changes=b)
    sig = eng._defs[eng.registry.resolve("d", "v")].sig
    entry = eng.registry.get_view(sig)
    assert entry["base_version"] >= 2, "compaction should have run"
    assert entry.get("garbage"), "old versions queued for GC"

    got = eng.query("d/v", group_level=2, stale="ok")
    want = eng.query(VIEW, group_level=2)
    assert _rows(got) == _rows(want)

    vdir = eng.registry.view_dir(sig)
    before = set(os.listdir(vdir))
    eng.vacuum(sig)
    after = set(os.listdir(vdir))
    assert before - after, "vacuum should delete orphaned versions"
    assert _rows(eng.query("d/v", group_level=2, stale="ok")) == _rows(
        want
    )


def test_registry_survives_engine_restart(spark, sf_dir, tmp_path):
    e1 = Engine(spark, sf_dir, str(tmp_path))
    e1.put_design("d", {"v": VIEW})
    e1.update_view("d/v")
    want = _rows(e1.query("d/v", group_level=2, stale="ok"))

    e2 = Engine(spark, sf_dir, str(tmp_path))
    e2.put_design("d", {"v": VIEW})  # definitions re-registered on boot
    got = _rows(e2.query("d/v", group_level=2, stale="ok"))
    assert got == want
    # same content-hash signature → same storage dir was reused
    assert e2.registry.get_view(
        e2.registry.resolve("d", "v")
    )["base"] is not None


def test_view_cleanup_removes_orphans(spark, sf_dir, tmp_path):
    eng = Engine(spark, sf_dir, str(tmp_path))
    eng.put_design("d", {"v": VIEW})
    eng.update_view("d/v")
    sig = eng.registry.resolve("d", "v")
    vdir = eng.registry.view_dir(sig)
    assert os.path.exists(vdir)
    # drop the design (replace with an empty one) → view is orphaned
    eng.put_design("d", {})
    res = eng.view_cleanup()
    assert sig in res["removed"]
    assert not os.path.exists(vdir)


def test_stale_ok_skips_refresh(spark, sf_dir, tmp_path):
    eng = Engine(spark, sf_dir, str(tmp_path))
    eng.put_design("d", {"v": VIEW})
    b1, b2 = _batches(spark, sf_dir, 2)
    eng.update_view("d/v", changes=b1)
    seen = eng.registry.get_view(eng.registry.resolve("d", "v"))[
        "last_seq"
    ]
    # stale='ok' must not advance the index
    eng.query("d/v", group_level=2, stale="ok").df.collect()
    assert eng.registry.get_view(eng.registry.resolve("d", "v"))[
        "last_seq"
    ] == seen
    # default staleness refreshes (and update_view picks up batch 2
    # automatically from the source's seq column)
    eng.query("d/v", group_level=2).df.collect()
    assert eng.registry.get_view(eng.registry.resolve("d", "v"))[
        "last_seq"
    ] > seen


def test_update_seq_envelope(spark, sf_dir, tmp_path):
    eng = Engine(spark, sf_dir, str(tmp_path))
    eng.put_design("d", {"v": VIEW})
    eng.update_view("d/v")
    res = eng.query("d/v", group_level=2, stale="ok", update_seq=True)
    entry = eng.registry.get_view(eng.registry.resolve("d", "v"))
    assert res.update_seq == entry["last_seq"] > 0
    res2 = eng.query("d/v", group_level=2, stale="ok")
    assert res2.update_seq is None


def test_reduce_false_returns_map_rows(engine):
    res = engine.query(VIEW, reduce=False, limit=10)
    rows = res.rows()
    assert len(rows) == 10
    # map rows carry ids and raw emitted values, not aggregates
    assert all("id" in r and isinstance(r["value"], float) for r in rows)
    assert res.total_rows > 10


def test_total_rows_counts_whole_view(engine):
    res = engine.query(
        {"map": MapSpec("customer", ("str", "c_mktsegment"))}, limit=5
    )
    assert len(res.rows()) == 5
    assert res.total_rows == engine.spark.read.parquet(
        f"{engine.sf_dir}/customer.parquet"
    ).count()


def _jobs_run(spark, fn):
    """Number of Spark jobs triggered while fn() runs."""
    nid = lambda: spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
    before = nid()
    out = fn()
    return out, nid() - before


def test_view_stats_total_rows_zero_jobs(spark, sf_dir, tmp_path):
    """Persisted views answer total_rows from registry statistics
    (maintained on the build/refresh/compact write passes) — zero
    Spark jobs at query time, like the reference's index metadata.
    Stats stay exact across delta layers and compaction."""
    eng = Engine(spark, sf_dir, str(tmp_path), compact_after=3)
    eng.put_design("d", {"v": {"map": VIEW["map"]}})
    batches = _batches(spark, sf_dir, 4)
    eng.update_view("d/v", changes=batches[0])
    expect = batches[0].count()
    res = eng.query("d/v", stale="ok", limit=1)
    total, jobs = _jobs_run(spark, lambda: res.total_rows)
    assert total == expect and jobs == 0
    # delta layers: stats adjust by (delta − superseded) per batch
    for b in batches[1:]:
        eng.update_view("d/v", changes=b)
    res = eng.query("d/v", stale="ok", limit=1)
    expect = spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    total, jobs = _jobs_run(spark, lambda: res.total_rows)
    assert total == expect and jobs == 0
    # compact_after=3 → a compaction ran; stats re-observed exactly
    entry = eng.registry.get_view(eng.registry.resolve("d", "v"))
    assert entry["base_version"] > 1 and entry["stats"]["rows"] == expect


def test_dynamic_sum_uses_persisted_width_no_probe(spark, sf_dir,
                                                   tmp_path):
    """A persisted Python-map view with array values must plan _sum
    from the registry's observed width — no collect() probe scan."""
    def arr_map(doc, emit):
        emit(doc["lang"], [1.0, float(doc["n_chars"])])

    eng = Engine(spark, sf_dir, str(tmp_path))
    eng.put_design("d", {"v": {"map": ("documents", arr_map),
                               "reduce": "_sum"}})
    eng.update_view("d/v")
    # plan construction must trigger no job (the probe was a job)
    res, jobs = _jobs_run(
        spark, lambda: eng.query("d/v", group=True, stale="ok")
    )
    assert jobs == 0
    rows = {tuple(r["key"]) if isinstance(r["key"], list) else r["key"]:
            r["value"] for r in res.rows()}
    assert rows and all(
        isinstance(v, list) and len(v) == 2 for v in rows.values()
    )


# ---------------------------------------------------------------------------
# sandbox helpers (F1)
# ---------------------------------------------------------------------------

def test_sandbox_sum_matches_couchdb_semantics():
    assert sandbox.sum_values([1, 2, 3]) == 6
    assert sandbox.sum_values([[1, 2], [3, 4]]) == [4, 6]
    assert sandbox.sum_values([1, [2, 3]]) == [3, 3]  # number → [n]
    assert sandbox.sum_values([[1], [2, 5]]) == [3, 5]  # zero-pad
    with pytest.raises(TypeError):
        sandbox.sum_values(["nope"])
    with pytest.raises(TypeError):
        sandbox.sum_values([[1, "nope"]])


def test_sandbox_helpers():
    assert sandbox.is_array([1]) and not sandbox.is_array("x")
    assert sandbox.to_json({"a": 1}) == '{"a":1}'
    sandbox.log("smoke", 1)


def test_sandbox_usable_inside_python_map_fn(engine):
    def map_fn(doc, emit):
        if sandbox.is_array(doc.get("_id")):  # never true; exercises it
            return
        emit(doc["lang"], sandbox.to_json({"n": doc["n_chars"]}))

    res = engine.query(("documents", map_fn), limit=3)
    rows = res.rows()
    assert len(rows) == 3
    assert all(isinstance(r["value"], str) for r in rows)

def test_sum_over_invalid_values_errors(engine):
    """upstream builtin_reduce_error parity: _sum over a string value
    must raise at query execution (dynamic Python views only; MapSpec
    views are numeric by construction)."""
    def bad_map(doc, emit):
        emit(doc["lang"], "not-a-number")

    res = engine.query({"map": ("documents", bad_map),
                        "reduce": "_sum"}, group=True)
    with pytest.raises(Exception, match="builtin_reduce_error"):
        res.df.collect()


def test_sum_over_null_values_errors(engine):
    """upstream sum() throws builtin_reduce_error for ANY non-number,
    emitted null included — nulls must not be silently skipped."""
    def null_map(doc, emit):
        emit(doc["lang"], None)

    res = engine.query({"map": ("documents", null_map),
                        "reduce": "_sum"}, group=True)
    with pytest.raises(Exception, match="builtin_reduce_error"):
        res.df.collect()


def test_keys_reduced_request_order_ignores_descending(engine):
    """P5/A5: `keys` results come back in REQUEST order on both the map
    and the reduce path, regardless of descending (upstream parity)."""
    keys = [["N", "O"], ["A", "F"], ["N", "O"]]
    for desc in (False, True):
        red = engine.query(VIEW, keys=keys, group=True, descending=desc)
        got = [tuple(r["key"]) for r in red.rows()]
        assert got == [tuple(k) for k in keys], f"descending={desc}"
        mp = engine.query(VIEW, keys=keys, reduce=False,
                          descending=desc, limit=5000)
        mkeys = [tuple(r["key"]) for r in mp.rows()]
        # map path: request-ordered runs of each key
        runs = [k for i, k in enumerate(mkeys)
                if i == 0 or k != mkeys[i - 1]]
        assert runs == [tuple(k) for k in keys], f"descending={desc}"


def test_sum_valid_python_view_still_works(engine):
    def ok_map(doc, emit):
        emit(doc["lang"], [1, doc["n_chars"]])

    res = engine.query({"map": ("documents", ok_map),
                        "reduce": "_sum"}, group=True)
    rows = res.rows()
    assert rows and all(isinstance(r["value"], list) for r in rows)


def test_approx_count_distinct_within_rsd(engine, duck, sf_dir):
    """extension builtin _approx_count_distinct: estimates within ~3x
    the default rsd (5%) of the exact per-group distinct-key counts."""
    from mapreduce_spark.inventory import VIEW_DEFS

    res = engine.query(
        {"map": VIEW_DEFS["supp_part"]["map"],
         "reduce": "_approx_count_distinct"},
        group_level=1,
    )
    got = {int(float(r["key"][0])): r["value"] for r in res.rows()}
    want = dict(
        duck.execute(
            "SELECT l_suppkey, count(DISTINCT l_partkey) "
            "FROM lineitem GROUP BY 1"
        ).fetchall()
    )
    assert set(got) == set(want)
    for k, exact in want.items():
        assert abs(got[k] - exact) <= max(3, 0.15 * exact), (
            k, got[k], exact,
        )


def test_deleted_docs_removed_incrementally(spark, sf_dir, tmp_path):
    """A _deleted=true doc in a changes batch tombstones its previous
    emits and contributes none (M1 delete path)."""
    eng = Engine(spark, sf_dir, str(tmp_path))
    eng.put_design("d", {"v": VIEW})
    eng.update_view("d/v")
    before = _rows(eng.query("d/v", group_level=2, stale="ok"))

    raw = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    seq = (F.col("l_orderkey") * 8 + F.col("l_linenumber")).cast("long")
    max_seq = raw.agg(F.max(seq)).collect()[0][0]
    victims = raw.orderBy("l_orderkey", "l_linenumber").limit(7)
    # deletion batch: same docs, _deleted=true, later seq via bumped
    # orderkey? no — seq must come from the same expr, so reuse the
    # rows as-is; update_view tombstones by id regardless of seq
    deletion = victims.withColumn("_deleted", F.lit(True))
    eng.update_view("d/v", changes=deletion)

    after = eng.query("d/v", group_level=2, stale="ok")
    gone = spark.createDataFrame([], raw.schema)
    expect_raw = raw.join(
        victims.select("l_orderkey", "l_linenumber"),
        ["l_orderkey", "l_linenumber"],
        "left_anti",
    )
    expect = {}
    for r in expect_raw.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("s")
    ).collect():
        expect[(r.l_returnflag, r.l_linestatus)] = round(r.s, 6)
    got = {tuple(k): v for k, v in _rows(after)}
    assert got == expect
    assert got != {tuple(k): v for k, v in before}


def test_deep_layer_stack_reads_and_compaction_restores_scan(
    spark, sf_dir, tmp_path, monkeypatch
):
    """M1 at depth: 10 incremental batches → base + 9 (tomb, delta)
    layers.  The layered read must stay correct and stats-exact; the
    small view assembles in one task (no exchange, no broadcast), and
    the parallel plan is bounded (one broadcast anti-join per piece,
    never a shuffle); compaction folds everything back to a single
    pristine scan with NO joins."""
    eng = Engine(spark, sf_dir, str(tmp_path), compact_after=99)
    eng.put_design("d", {"v": VIEW})
    for b in _batches(spark, sf_dir, 10):
        eng.update_view("d/v", changes=b)
    sig = eng.registry.resolve("d", "v")
    entry = eng.registry.get_view(sig)
    assert len(entry["layers"]) == 9
    want = _rows(eng.query(VIEW, group_level=2))  # from-scratch temp
    got = _rows(eng.query("d/v", group_level=2, stale="ok"))
    assert got == want
    # registry stats stayed exact through 9 delta adjustments
    n = spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    assert entry["stats"]["rows"] == n
    plan = eng._assemble_view(sig)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan and "Join" not in plan
    # the parallel plan (views above the one-task limit): one broadcast
    # anti-join per piece EXCEPT the newest layer — its later-tombstone
    # set constant-folds to empty (literal _tb per branch) and
    # PropagateEmptyRelation deletes that join outright
    monkeypatch.setattr(sizing, "ONE_TASK_VIEW_MAX_ROWS", 0)
    plan = eng._assemble_view(sig)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("LeftAnti") == 9
    assert "SortMergeJoin" not in plan and "Exchange hashpartitioning" \
        not in plan
    assert got == _rows(eng.query("d/v", group_level=2, stale="ok"))
    monkeypatch.undo()
    # compaction: back to one sorted base, zero joins on the read path
    eng._compact(sig, entry)
    entry2 = eng.registry.get_view(sig)
    assert entry2["layers"] == [] and entry2["base_version"] == 2
    assert entry2["stats"]["rows"] == n
    plan2 = eng._assemble_view(sig)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Join" not in plan2
    assert _rows(eng.query("d/v", group_level=2, stale="ok")) == want


def test_one_task_assembly_equals_parallel_plan(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A small layered view assembles in one task: base, deltas and
    tombstone ids in one partition, a window keeps the rows no later
    tombstone holds.  Over a three-layer stack with key-moving edits,
    deletes and a delete later undone, every answer equals the
    parallel (broadcast anti-join) plan's and a single build of the
    final docs; a read plans no exchange and runs one job; and a
    compaction writes the same base rows with exact stats both ways."""
    raw = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    pk = ["l_orderkey", "l_linenumber"]
    b1, b2, b3 = _batches(spark, sf_dir, 3)
    first = b1.orderBy(*pk).limit(60).cache()
    moved = first.limit(40).withColumn("l_returnflag", F.lit("Z"))
    gone = first.orderBy(F.col("l_orderkey").desc(), "l_linenumber") \
        .limit(20)
    back = gone.orderBy(*pk).limit(1)
    moved2 = moved.limit(10).withColumn("l_linestatus", F.lit("Q"))
    eng = Engine(spark, sf_dir, str(tmp_path / "one"), compact_after=99)
    eng.put_design("d", {"v": VIEW})
    eng.update_view("d/v", changes=b1)
    eng.update_view("d/v", changes=b2.unionByName(moved))
    eng.update_view("d/v", changes=gone.withColumn("_deleted", F.lit(True))
                    .unionByName(moved2.withColumn("_deleted", F.lit(False))))
    eng.update_view("d/v", changes=b3.unionByName(back))
    sig = eng.registry.resolve("d", "v")
    assert len(eng.registry.get_view(sig)["layers"]) == 3

    final = (
        raw.join(gone.select(*pk), pk, "left_anti")
        .join(moved.select(*pk), pk, "left_anti")
        .unionByName(moved.join(moved2.select(*pk), pk, "left_anti"))
        .unionByName(moved2).unionByName(back)
    )
    ref = Engine(spark, sf_dir, str(tmp_path / "ref"))
    ref.put_design("d", {"v": VIEW})
    ref.update_view("d/v", changes=final)

    def answers(e):
        def q(**kw):
            return e.query("d/v", stale="ok", **kw)

        docs = q(reduce=False, include_docs=True, key=["Z", "Q"])
        return (
            _rows(q(group=True)),
            _rows(q(group_level=1)),
            [(r["id"], r["key"], r["value"])
             for r in q(reduce=False).rows()],
            [(r["id"], r["doc"]) for r in docs.rows()],
            q(reduce=False, limit=1).total_rows,
        )

    want = answers(eng)
    assert want == answers(ref)
    assert len(want[3]) == 10 and want[4] == final.count()

    res = eng.query("d/v", stale="ok", group=True)
    plan = res.df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    with measure(spark, "one-task read") as m:
        res.rows()
    assert m["jobs"] == 1

    shutil.copytree(tmp_path / "one", tmp_path / "par")
    par = Engine(spark, sf_dir, str(tmp_path / "par"), compact_after=99)
    par.put_design("d", {"v": VIEW})

    def compacted(e):
        entry = e.registry.get_view(sig)
        e._compact(sig, entry)
        base = spark.read.parquet(
            os.path.join(e.registry.view_dir(sig), entry["base"])
        )
        return entry["stats"]["rows"], sorted(map(tuple, base.collect()))

    monkeypatch.setattr(sizing, "ONE_TASK_VIEW_MAX_ROWS", 0)
    assert answers(par) == want
    rows_par, base_par = compacted(par)
    monkeypatch.undo()
    rows_one, base_one = compacted(eng)
    assert rows_one == rows_par == len(base_one) == final.count()
    assert base_one == base_par


def test_incremental_refresh_never_scans_view(spark, sf_dir, tmp_path,
                                              monkeypatch):
    """M1 refresh accounting is O(changes): with per-doc emit-count
    metadata present, update_view must never assemble (= scan) the
    existing view — superseded-row counts come from the counts file /
    layer lcounts.  Stats stay EXACT through multiple refreshes,
    including doc edits (supersede) and deletes."""
    eng = Engine(spark, sf_dir, str(tmp_path), compact_after=99)
    eng.put_design("d", {"v": VIEW})
    b1, b2, b3 = _batches(spark, sf_dir, 3)
    eng.update_view("d/v", changes=b1)  # initial build

    def boom(sig):
        raise AssertionError(
            "update_view assembled the view — refresh accounting "
            "regressed to O(view)"
        )

    monkeypatch.setattr(eng, "_assemble_view", boom)
    eng.update_view("d/v", changes=b2)
    # re-deliver part of b2 (doc EDITS: same ids supersede layer-1
    # emits) plus b3 (new docs)
    edits = b2.orderBy("l_orderkey", "l_linenumber").limit(50)
    eng.update_view("d/v", changes=b3.unionByName(edits))
    # deletes: live emits of deleted docs must leave the stats
    victims = b1.orderBy("l_orderkey", "l_linenumber").limit(7)
    eng.update_view(
        "d/v", changes=victims.withColumn("_deleted", F.lit(True))
    )
    monkeypatch.undo()

    sig = eng.registry.resolve("d", "v")
    entry = eng.registry.get_view(sig)
    assert len(entry["layers"]) == 3
    # stats exact: registry row count == actual live view rows
    actual = eng._assemble_view(sig).count()
    assert entry["stats"]["rows"] == actual
    # and the query result equals a from-scratch build minus victims
    raw = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    keep = raw.join(
        victims.select("l_orderkey", "l_linenumber"),
        ["l_orderkey", "l_linenumber"],
        "left_anti",
    )
    want = {
        (r.l_returnflag, r.l_linestatus): round(r.s, 6)
        for r in keep.groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity").alias("s"))
        .collect()
    }
    got = {
        tuple(k): v
        for k, v in _rows(eng.query("d/v", group_level=2, stale="ok"))
    }
    assert got == want


def test_update_after_refreshes_post_query(spark, sf_dir, tmp_path):
    eng = Engine(spark, sf_dir, str(tmp_path))
    eng.put_design("d", {"v": VIEW})
    b1, b2 = _batches(spark, sf_dir, 2)
    eng.update_view("d/v", changes=b1)
    seen = eng.registry.get_view(eng.registry.resolve("d", "v"))[
        "last_seq"
    ]
    before = _rows(eng.query("d/v", group_level=2, stale="ok"))
    res = eng.query("d/v", group_level=2, stale="update_after")
    # the refresh ran after assembling the query; index advanced
    assert eng.registry.get_view(eng.registry.resolve("d", "v"))[
        "last_seq"
    ] > seen
    # …but the query itself was served from the CURRENT index (upstream
    # update_after semantics: respond immediately, refresh afterwards)
    assert _rows(res) == before
    after = _rows(eng.query("d/v", group_level=2, stale="ok"))
    assert after != before


def test_keyed_include_docs_prunes_doc_join(spark, sf_dir, tmp_path):
    """S3 point-fetch shape: a key= lookup with NO limit must still
    prune the docs side (AQE-decided semi-join on the matched ids)
    instead of shuffling the whole docs table — with no extra
    driver-side cardinality-probe job."""
    eng = Engine(spark, sf_dir, str(tmp_path))
    view = {"map": MapSpec("customer", ("num", "c_nationkey"))}
    res = eng.query(view, key=7, include_docs=True)
    plan = res.df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan  # docs pruned to the matched ids
    rows = res.rows()
    assert rows and all(r["doc"]["c_nationkey"] == 7.0 for r in rows)


def test_missing_linked_doc_yields_null(spark, sf_dir, tmp_path):
    """J2: a linked _id that doesn't resolve → doc null (left join)."""
    eng = Engine(spark, sf_dir, str(tmp_path))
    view = {
        "map": MapSpec(
            "orders",
            ("num", "o_orderkey"),
            ("link", "'customer:nonexistent'"),
        )
    }
    res = eng.query(view, include_docs=True, limit=5,
                    doc_tables=["customer"])
    rows = res.rows()
    assert len(rows) == 5
    assert all(r["doc"] is None for r in rows)


def test_conflicts_flag_surfaces_conflict_revs(spark):
    """J3: conflicts=True keeps a non-empty _conflicts array in the
    joined doc; conflict-free docs omit the member (CouchDB shape)."""
    import json

    from mapreduce_spark.sources.docs import doc_json_frame

    d = spark.createDataFrame(
        [
            ("t:1", False, 1, "x", ["2-abc", "2-def"]),
            ("t:2", False, 2, "y", []),
            ("t:3", False, 3, "z", None),
        ],
        "_id string, _deleted boolean, seq long, payload string, "
        "_conflicts array<string>",
    )
    on = {r["_id"]: json.loads(r["doc_json"])
          for r in doc_json_frame(d, conflicts=True).collect()}
    off = {r["_id"]: json.loads(r["doc_json"])
           for r in doc_json_frame(d, conflicts=False).collect()}
    assert on["t:1"]["_conflicts"] == ["2-abc", "2-def"]
    assert "_conflicts" not in on["t:2"]  # empty → omitted
    assert "_conflicts" not in on["t:3"]  # null → omitted
    assert all("_conflicts" not in doc for doc in off.values())
    assert all("seq" not in doc and "_deleted" not in doc
               for doc in on.values())
    assert on["t:1"]["_id"] == "t:1" and on["t:1"]["payload"] == "x"


def test_conflicts_flag_noop_on_conflict_free_tables(
    spark, sf_dir, tmp_path
):
    """Fixture tables carry no _conflicts column: conflicts=True must
    return byte-identical docs to the default query."""
    eng = Engine(spark, sf_dir, str(tmp_path))
    view = {"map": MapSpec("nation", ("num", "n_nationkey"))}
    plain = eng.query(view, include_docs=True, limit=5).rows()
    with_c = eng.query(view, include_docs=True, limit=5,
                       conflicts=True).rows()
    assert plain == with_c and len(plain) == 5


# ---------------------------------------------------------------------------
# startkey_docid / endkey_docid (CouchDB (key, docid) boundary refinement)
# ---------------------------------------------------------------------------

SEG_VIEW = {"map": MapSpec("customer", ("str", "c_mktsegment"))}


def _seg_ids(res):
    return [(r["key"], r["id"]) for r in res.rows()]


def test_docid_range_boundaries(engine, duck):
    """Both boundaries land INSIDE runs of duplicate keys; rows at the
    boundary keys are split exactly at the given docids."""
    got = _seg_ids(
        engine.query(
            SEG_VIEW,
            startkey="BUILDING", startkey_docid="customer:000050",
            endkey="HOUSEHOLD", endkey_docid="customer:000100",
        )
    )
    exp = duck.execute(
        "SELECT k, id FROM (SELECT c_mktsegment k, "
        "printf('customer:%06d', c_custkey) id FROM customer) "
        "WHERE (k > 'BUILDING' OR (k = 'BUILDING' "
        "AND id >= 'customer:000050')) "
        "AND (k < 'HOUSEHOLD' OR (k = 'HOUSEHOLD' "
        "AND id <= 'customer:000100')) ORDER BY k, id"
    ).fetchall()
    assert got == [tuple(r) for r in exp]
    assert got  # fixture sanity: the range is non-empty


def test_docid_pagination_resume(engine):
    """The canonical CouchDB paging recipe — next page starts at the
    last row's (key, docid) with skip=1 — reassembles the full scan
    exactly, across duplicate-key runs."""
    full = _seg_ids(engine.query(SEG_VIEW))
    pages, lastrow = [], None
    while True:
        opts = {"limit": 37}
        if lastrow is not None:
            opts.update(startkey=lastrow[0], startkey_docid=lastrow[1],
                        skip=1)
        page = _seg_ids(engine.query(SEG_VIEW, **opts))
        if not page:
            break
        pages.extend(page)
        lastrow = page[-1]
    assert pages == full


def test_docid_descending_exclusive_end(engine):
    """descending + inclusive_end=False + endkey_docid excludes exactly
    the boundary (key, docid) pair, keeping the rest of its run."""
    base = _seg_ids(
        engine.query(SEG_VIEW, startkey="HOUSEHOLD", endkey="BUILDING",
                     descending=True)
    )
    # pick a boundary docid strictly inside the BUILDING run
    building = [r for r in base if r[0] == "BUILDING"]
    assert len(building) > 2
    bkey, bid = building[len(building) // 2]
    got = _seg_ids(
        engine.query(
            SEG_VIEW, startkey="HOUSEHOLD", endkey="BUILDING",
            endkey_docid=bid, inclusive_end=False, descending=True,
        )
    )
    exp = [r for r in base if r[0] > "BUILDING" or r[1] > bid]
    assert got == exp
    # inclusive keeps the boundary pair itself
    got_incl = _seg_ids(
        engine.query(
            SEG_VIEW, startkey="HOUSEHOLD", endkey="BUILDING",
            endkey_docid=bid, descending=True,
        )
    )
    assert got_incl == [r for r in base if r[0] > "BUILDING" or r[1] >= bid]


def test_docid_options_validation(engine):
    """CouchDB parity: docid options are ignored without their key
    option; non-string docids are a QueryParseError."""
    from mapreduce_spark.errors import QueryParseError

    assert _seg_ids(
        engine.query(SEG_VIEW, startkey_docid="customer:000050")
    ) == _seg_ids(engine.query(SEG_VIEW))
    with pytest.raises(QueryParseError):
        engine.query(SEG_VIEW, startkey="BUILDING", startkey_docid=7)


def test_sorted_false_skips_global_sort(engine):
    """sorted=False returns the same row SET with no Sort/TakeOrdered
    in the physical plan (CouchDB's performance escape hatch)."""
    res_sorted = engine.query(SEG_VIEW, startkey="BUILDING",
                              endkey="HOUSEHOLD")
    res_unsorted = engine.query(SEG_VIEW, startkey="BUILDING",
                                endkey="HOUSEHOLD", sorted=False)
    assert sorted(_seg_ids(res_unsorted)) == sorted(_seg_ids(res_sorted))
    plan = res_unsorted.df._jdf.queryExecution().executedPlan().toString()
    assert "Sort" not in plan and "TakeOrdered" not in plan
    plan_s = res_sorted.df._jdf.queryExecution().executedPlan().toString()
    assert "Sort" in plan_s or "TakeOrdered" in plan_s


def test_update_param_maps_to_staleness(engine):
    """update=True/False/'lazy' normalizes onto the stale modes;
    invalid values raise."""
    from mapreduce_spark.errors import QueryParseError
    from mapreduce_spark.plans.spec import QueryOptions

    assert QueryOptions(update=True).validated(has_reduce=False).stale \
        is None
    assert QueryOptions(update=False).validated(has_reduce=False).stale \
        == "ok"
    o = QueryOptions(update="lazy").validated(has_reduce=False)
    assert o.stale == "update_after"
    with pytest.raises(QueryParseError):
        QueryOptions(update="eventually").validated(has_reduce=False)

    # end-to-end: update=False must not refresh the persisted index
    engine.put_design("d", {"seg": SEG_VIEW})
    engine.update_view("d/seg")
    before = engine.registry.get_view(
        engine._resolve("d/seg")[0].sig
    )["last_seq"]
    engine.query("d/seg", update=False)
    after = engine.registry.get_view(
        engine._resolve("d/seg")[0].sig
    )["last_seq"]
    assert after == before


def test_query_batch_matches_individual(engine):
    """query_batch ≡ N independent query() calls, result-for-result."""
    batch = [
        {"group": True},
        {"reduce": False, "startkey": "A", "endkey": "N"},
        {"reduce": False, "key": "R", "limit": 7},
    ]
    eng2 = Engine(engine.spark, engine.sf_dir,
                  engine.storage_dir + "-b")
    # flag_count-shaped view for map sub-queries: reuse VIEW's map only
    view = {"map": VIEW["map"], "reduce": "_count"}
    got = engine.query_batch(view, batch)
    for o, r in zip(batch, got):
        single = eng2.query(view, **o)
        assert r.df.collect() == single.df.collect(), o


def test_query_batch_shares_refresh(engine, monkeypatch):
    """A batch of default-staleness sub-queries triggers exactly ONE
    maintenance pass (the whole point vs N query() calls)."""
    engine.put_design("d", {"seg": SEG_VIEW})
    calls = []
    orig = engine.update_view

    def counting(vdef, *a, **kw):
        calls.append(1)
        return orig(vdef, *a, **kw)

    monkeypatch.setattr(engine, "update_view", counting)
    rs = engine.query_batch(
        "d/seg",
        [{"limit": 3}, {"startkey": "BUILDING"}, {"descending": True}],
    )
    assert len(calls) == 1
    assert all(r.df.count() > 0 for r in rs)


def test_query_batch_validates_all_first(engine, monkeypatch):
    """One malformed option set rejects the whole batch before any
    refresh work (upstream: the request fails as a unit)."""
    from mapreduce_spark.errors import QueryParseError

    engine.put_design("d", {"seg": SEG_VIEW})
    monkeypatch.setattr(
        engine, "update_view",
        lambda *a, **k: pytest.fail("refresh ran before validation"),
    )
    with pytest.raises(QueryParseError):
        engine.query_batch("d/seg", [{"limit": 3}, {"skip": "bogus"}])


def test_incremental_source_scan_pushes_coarse_seq_bound(
    spark, sf_dir, tmp_path
):
    """S1 at 100 TB: lineitem's composite seq (ok*8+ln) can't push
    into the parquet scan, so the changes-feed scan layers a
    conservative single-column bound that DOES (row-group pruning);
    the exact filter still applies, so results are unchanged."""
    from mapreduce_spark.engine import ViewDef

    eng = Engine(spark, sf_dir, str(tmp_path))
    vdef = ViewDef(VIEW["map"], VIEW["reduce"])
    since = 100_000

    def fmt(df):  # executedPlan().toString() truncates PushedFilters
        jvm = spark.sparkContext._jvm
        return jvm.org.apache.spark.sql.api.python.PythonSQLUtils \
            .explainString(df._jdf.queryExecution(), "formatted")

    src = eng._source_df(vdef, since=since)
    assert "GreaterThanOrEqual(l_orderkey" in fmt(src)  # pushed bound
    # exact-filter equivalence vs the unbounded scan
    raw = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    seq = (F.col("l_orderkey") * 8 + F.col("l_linenumber")).cast("long")
    assert src.count() == raw.filter(seq > since).count()
    # upper bound too (to_seq path)
    hi = eng._source_df(vdef, since=since, to_seq=200_000)
    assert "LessThanOrEqual(l_orderkey" in fmt(hi)
    assert hi.count() == raw.filter(
        (seq > since) & (seq <= 200_000)
    ).count()


def test_unknown_and_attachment_options(engine):
    """Unknown options raise QueryParseError naming the offender
    (not a bare TypeError); attachment options are accepted for API
    parity and ignored (attachments = declared non-goal)."""
    from mapreduce_spark.errors import QueryParseError

    with pytest.raises(QueryParseError, match="limt"):
        engine.query(SEG_VIEW, limt=5)
    a = _seg_ids(engine.query(SEG_VIEW, limit=5, include_docs=True,
                              attachments=True, att_encoding_info=True,
                              binary=True))
    b = _seg_ids(engine.query(SEG_VIEW, limit=5, include_docs=True))
    assert a == b


def test_stable_param_accepted_and_validated(engine):
    """CouchDB `stable` parity: reads here are always stable (atomic
    registry snapshots), so the option validates but never changes
    results."""
    from mapreduce_spark.errors import QueryParseError

    a = _seg_ids(engine.query(SEG_VIEW, stable=True))
    b = _seg_ids(engine.query(SEG_VIEW, stable=False))
    c = _seg_ids(engine.query(SEG_VIEW))
    assert a == b == c
    with pytest.raises(QueryParseError):
        engine.query(SEG_VIEW, stable="maybe")


def test_explain_surfaces_pushdown(engine):
    """Engine.explain returns the physical plan without executing;
    the range bound is visible as a pushed parquet filter."""
    engine.put_design("d", {"seg": SEG_VIEW})
    engine.update_view("d/seg")
    plan = engine.explain("d/seg", startkey="BUILDING",
                          endkey="HOUSEHOLD")
    assert "PushedFilters" in plan and "key_enc" in plan
    # temp views work too, any mode
    p2 = engine.explain(SEG_VIEW, key="BUILDING", mode="simple")
    assert "Physical Plan" in p2 or "Scan" in p2


def test_info_metadata_zero_jobs(spark, sf_dir, tmp_path):
    """info() answers from registry + disk walk — no Spark jobs."""
    eng = Engine(spark, sf_dir, str(tmp_path))
    eng.put_design("d", {"seg": SEG_VIEW})
    # unbuilt: zero sizes
    i0 = eng.info("d/seg")
    assert i0["sizes"] == {"file": 0, "active": 0}
    eng.update_view("d/seg")
    info, jobs = _jobs_run(spark, lambda: eng.info("d/seg"))
    assert jobs == 0
    assert info["language"] == "query"
    assert info["update_seq"] > 0
    assert info["sizes"]["file"] > 0
    assert info["sizes"]["active"] == spark.read.parquet(
        f"{sf_dir}/customer.parquet"
    ).count()
    assert info["layer_count"] == 0 and not info["updater_running"]

    # JS views report javascript on the interpreted tier and on the
    # Variant tier, whose repr is its interpreter fallback's
    from mapreduce_spark.functions.jsmap import JSMapFunctionFull
    from mapreduce_spark.functions.jsvariant import VariantJSView
    from mapreduce_spark.sources.docs import (
        TABLES,
        raw_doc_table,
        register_table,
    )

    eng.put_design("js", {"interp": {"map": (
        "customer",
        "function(doc) { emit(doc.c_mktsegment.split('U')[0], 1); }",
    )}})
    assert isinstance(eng._resolve("js/interp")[0].map_def[1],
                      JSMapFunctionFull)
    assert eng.info("js/interp")["language"] == "javascript"
    register_table(raw_doc_table("infodocs"))
    try:
        sf2 = str(tmp_path / "raw")
        spark.createDataFrame(
            [(f"d{i}", i, f'{{"_id":"d{i}","type":"t{i % 2}"}}')
             for i in range(8)],
            "_id string, seq long, doc_json string",
        ).write.parquet(f"{sf2}/infodocs.parquet")
        eng2 = Engine(spark, sf2, str(tmp_path / "views2"))
        eng2.put_design("js", {"var": {"map": (
            "infodocs", "function(doc) { emit(doc.type, 1); }",
        )}})
        assert isinstance(eng2._resolve("js/var")[0].map_def,
                          VariantJSView)
        assert eng2.info("js/var")["language"] == "javascript"
    finally:
        TABLES.pop("infodocs", None)


def test_limit_zero_and_negative_pagination(engine):
    """limit=0 returns no rows but a full envelope (CouchDB allows
    it); negative skip/limit are query_parse_errors, not leaked Spark
    AnalysisExceptions."""
    from mapreduce_spark.errors import QueryParseError

    res = engine.query(SEG_VIEW, limit=0)
    assert res.rows() == [] and res.total_rows > 0
    for bad in ({"skip": -5}, {"limit": -1}):
        with pytest.raises(QueryParseError):
            engine.query(SEG_VIEW, **bad)


def _hold_view_lock(storage, sig, started, release):
    from mapreduce_spark.plans.registry import Registry

    with Registry(storage).view_lock(sig):
        started.set()
        release.wait(30)


def test_view_lock_is_cross_process(tmp_path):
    """Builds serialize across DRIVER PROCESSES sharing one view store
    (advisory file lock), not just across threads."""
    import fcntl
    import multiprocessing as mp

    storage = str(tmp_path / "store")
    started, release = mp.Event(), mp.Event()
    p = mp.Process(target=_hold_view_lock,
                   args=(storage, "sig1", started, release))
    p.start()
    try:
        assert started.wait(15)
        lockfile = os.path.join(storage, "locks", "sig1.lock")
        fh = open(lockfile, "a+")
        with pytest.raises(OSError):  # held by the other process
            fcntl.flock(fh, fcntl.LOCK_EX | fcntl.LOCK_NB)
        release.set()
        p.join(15)
        fcntl.flock(fh, fcntl.LOCK_EX | fcntl.LOCK_NB)  # now free
        fcntl.flock(fh, fcntl.LOCK_UN)
        fh.close()
    finally:
        release.set()
        p.join(5)
        if p.is_alive():
            p.terminate()


def test_public_compact_folds_layers(spark, sf_dir, tmp_path):
    """compact() (CouchDB _compact parity) folds base and every layer
    into one fresh base version with exact stats; answers are
    unchanged and vacuum leaves only the new base on disk."""
    eng = Engine(spark, sf_dir, str(tmp_path), compact_after=99)
    eng.put_design("d", {"v": VIEW})
    for b in _batches(spark, sf_dir, 3):  # a base and two layers
        eng.update_view("d/v", changes=b)
    sig = eng.registry.resolve("d", "v")
    built = eng.registry.get_view(sig)
    assert len(built["layers"]) == 2
    before = _rows(eng.query("d/v", group_level=2, stale="ok"))

    out = eng.compact("d/v")
    entry = eng.registry.get_view(sig)
    assert not entry["layers"]
    assert entry["base_version"] == out["base_version"]
    assert out["base_version"] > built["base_version"]
    assert entry["stats"]["rows"] == eng._assemble_view(sig).count()
    assert _rows(eng.query("d/v", group_level=2, stale="ok")) == before
    eng.vacuum(sig)
    vdir = eng.registry.view_dir(sig)
    dirs = [d for d in os.listdir(vdir) if os.path.isdir(
        os.path.join(vdir, d))]
    # the compaction wrote the new base's counts beside it
    assert sorted(dirs) == sorted([entry["base"], entry["counts"]])
    assert _rows(eng.query("d/v", group_level=2, stale="ok")) == before


def test_include_docs_never_fans_out_on_duplicate_source_rows(engine):
    """_id is unique in the doc model; a source table violating PK
    uniqueness (the synthetic lineitem duplicates ~20% of its pairs)
    must not fan out include_docs rows — limit=N returns exactly N."""
    res = engine.query(VIEW, reduce=False, limit=50, include_docs=True)
    rows = res.rows()
    assert len(rows) == 50
    assert all(r["doc"] is not None for r in rows)


def test_options_from_typeerror_attribution():
    """Round 6 (ADVICE): only map TypeError to 'unknown query option'
    when there IS an unknown option; other TypeErrors re-raise as-is."""
    import pytest as _pytest

    from mapreduce_spark.errors import QueryParseError
    from mapreduce_spark.plans.spec import options_from

    with _pytest.raises(QueryParseError, match="unknown query option"):
        options_from({"bogus_opt": 1})
    with _pytest.raises(TypeError):
        # unhashable-key style TypeError with NO unknown option names
        options_from({1: "positional-ish"})  # type: ignore[dict-item]


def test_sum_over_structured_nonnumeric_errors(engine):
    """Round 6: _sum over a STRUCTURED view whose value kind is
    statically non-numeric (str / obj / no value) raises the upstream
    builtin_reduce_error BEFORE any job — the runtime guard rides
    literal-NULL value columns there, which Catalyst folds away
    (when(guard, NULL) → NULL), so the static check is the only
    reliable parity path for MapSpec views."""
    from mapreduce_spark.errors import BuiltInError
    from mapreduce_spark.operators.mapphase import MapSpec

    for bad in (
        MapSpec("nation", ("num", "n_regionkey"),
                ("str", "n_name")),
        MapSpec("nation", ("num", "n_regionkey")),  # no value at all
    ):
        with pytest.raises(BuiltInError, match="builtin_reduce_error"):
            engine.query({"map": bad, "reduce": "_sum"}, group=True)
    # compiled JS object value + _sum: same static error
    with pytest.raises(BuiltInError, match="builtin_reduce_error"):
        engine.query(
            {"map": ("events",
                     "function(doc){ emit(doc.event_type, "
                     "{v: doc.value}); }"),
             "reduce": "_sum"},
            group=True,
        )
    # a MIXED multi-emit (one numeric, one object) also errors
    # statically: Catalyst folds the runtime guard per UNION BRANCH,
    # so the literal-NULL branch would silently vanish from the sum —
    # conservative static parity is the only reliable behavior
    with pytest.raises(BuiltInError, match="builtin_reduce_error"):
        engine.query(
            {"map": ("events",
                     "function(doc){ emit(doc.event_type, doc.value); "
                     "emit(doc.event_type, {v: 1}); }"),
             "reduce": "_sum"},
            group=True,
        )


def test_build_ddoc_fused_single_scan(spark, sf_dir, tmp_path):
    """Round-7 M1: all structured views of a ddoc build from ONE
    source scan (CouchDB builds a ddoc's views together; at 100 TB
    the scan dominates).  The fused frame's plan must contain exactly
    one parquet scan of the source, and both views must answer
    identically to separately-built copies."""
    from mapreduce_spark.operators.mapphase import MapSpec

    views = {
        "by_flag": {
            "map": MapSpec(
                "lineitem",
                ("str", "l_returnflag"),
                ("num", "l_quantity"),
            ),
            "reduce": "_sum",
        },
        "big_qty": {
            "map": MapSpec(
                "lineitem",
                ("num", "l_quantity"),
                None,
                where="l_quantity > 45",
            ),
        },
    }
    eng = Engine(spark, sf_dir, str(tmp_path / "fused"))
    eng.put_design("dd", views)

    # plan assert: one FileScan over lineitem in the fused frame
    vdefs = [eng._defs[eng.registry.resolve("dd", n)]
             for n in ("by_flag", "big_qty")]
    fused = eng._fused_frame(vdefs, eng._source_df(vdefs[0]))
    plan = fused._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan

    eng.build_ddoc("dd")
    # both views materialized in one pass; compare against separate
    # per-view builds of the same definitions
    ref = Engine(spark, sf_dir, str(tmp_path / "sep"))
    ref.put_design("dd", views)
    ref.build_views(["dd/by_flag", "dd/big_qty"])
    for name, opts in (
        ("dd/by_flag", {"group": True}),
        ("dd/big_qty", {"reduce": False, "limit": 50}),
    ):
        got = eng.query(name, stale="ok", **opts).rows()
        want = ref.query(name, stale="ok", **opts).rows()
        assert got == want and got, name
    # registry stats (zero-job total_rows) must match the real counts
    for name in ("dd/by_flag", "dd/big_qty"):
        ge = eng.registry.get_view(eng.registry.resolve(*name.split("/")))
        re_ = ref.registry.get_view(ref.registry.resolve(*name.split("/")))
        assert ge["stats"]["rows"] == re_["stats"]["rows"]
        assert ge["last_seq"] == re_["last_seq"]
    # incremental refresh AFTER a fused build keeps working
    eng.update_view("dd/by_flag")


def test_build_ddoc_mixed_falls_back(spark, sf_dir, tmp_path):
    """A ddoc mixing a structured view with an interpreted-JS view
    builds correctly: the structured pair fuses, the interpreted view
    takes the per-view path."""
    from mapreduce_spark.operators.mapphase import MapSpec

    eng = Engine(spark, sf_dir, str(tmp_path / "mx"))
    eng.put_design("dd", {
        "a": {"map": MapSpec("orders", ("str", "o_orderstatus"),
                             None), "reduce": "_count"},
        "b": {"map": MapSpec("orders", ("str", "o_orderpriority"),
                             None), "reduce": "_count"},
        "c": {"map": ("orders",
                      "function(doc) { var s = doc.o_orderstatus; "
                      "emit(s + '!', 1); }"), "reduce": "_count"},
    })
    eng.build_ddoc("dd")
    a = eng.query("dd/a", stale="ok", group=True).rows()
    c = eng.query("dd/c", stale="ok", group=True).rows()
    assert {r["key"] for r in a} == {"F", "O", "P"}
    assert {r["key"] for r in c} == {"F!", "O!", "P!"}
    assert sum(r["value"] for r in a) == sum(r["value"] for r in c)


# ----------------------------------------------------------------------
# fused incremental refresh (round 8 M1: one changes scan per ddoc)
# ----------------------------------------------------------------------

REFRESH_VIEWS = {
    "by_flag": {
        "map": MapSpec(
            "lineitem",
            [("str", "l_returnflag"), ("str", "l_linestatus")],
            ("num", "l_quantity"),
        ),
        "reduce": "_sum",
    },
    "big_qty": {
        "map": MapSpec(
            "lineitem",
            ("num", "l_quantity"),
            ("num", "l_extendedprice"),
            where="l_quantity > 45",
        ),
    },
}


def _mid_seq(spark, sf_dir):
    raw = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    seq = (F.col("l_orderkey") * 8 + F.col("l_linenumber")).cast("long")
    return raw.agg(F.max(seq)).collect()[0][0] // 2


def test_refresh_ddoc_fused_metamorphic(spark, sf_dir, tmp_path):
    """Fused refresh ≡ per-view refresh ≡ rebuild (hash-equal rows,
    equal registry stats and last_seq), and the fused refresh frame
    contains exactly ONE parquet scan of the source — the K−1 saved
    passes that motivate it at 100 TB."""
    mid = _mid_seq(spark, sf_dir)
    engines = {}
    for mode in ("fused", "pview", "rebuild"):
        eng = Engine(spark, sf_dir, str(tmp_path / mode))
        eng.put_design("dd", REFRESH_VIEWS)
        engines[mode] = eng
    names = ["dd/by_flag", "dd/big_qty"]
    for mode in ("fused", "pview"):
        for n in names:
            engines[mode].update_view(n, None, mid)

    # plan assert: ONE source scan in the fused refresh frame
    eng = engines["fused"]
    vdefs = [eng._defs[eng.registry.resolve("dd", n)]
             for n in ("by_flag", "big_qty")]
    frame = eng._refresh_frame(
        vdefs, eng._source_df(vdefs[0], since=mid), [mid, mid]
    )
    plan = frame._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan

    engines["fused"].refresh_ddoc("dd")
    for n in names:
        engines["pview"].update_view(n)
        engines["rebuild"].update_view(n)

    for n, opts in (
        ("dd/by_flag", {"group_level": 2}),
        ("dd/big_qty", {"reduce": False, "limit": 200}),
    ):
        want = None
        for mode, e in engines.items():
            got = e.query(n, stale="ok", **opts).rows()
            assert got, (mode, n)
            if want is None:
                want = got
            else:
                assert got == want, (mode, n)
    for n in names:
        entries = [
            e.registry.get_view(e.registry.resolve(*n.split("/")))
            for e in engines.values()
        ]
        assert len({en["last_seq"] for en in entries}) == 1, n
        assert len({en["stats"]["rows"] for en in entries}) == 1, n
    # fused engine really took the layered path (not a rebuild)
    fe = engines["fused"].registry.get_view(
        engines["fused"].registry.resolve("dd", "by_flag"))
    assert fe["layers"], "fused refresh must append a delta layer"


@pytest.mark.parametrize("big_qty", ["built", "unbuilt"])
def test_refresh_ddoc_unequal_checkpoints(spark, sf_dir, tmp_path, big_qty):
    """Views of one ddoc at different last_seq still share the scan:
    the per-view seq guard re-aligns them, and both converge to the
    same state as a fresh rebuild.  A group mixing a built view with an
    unbuilt one converges the same way in one refresh_ddoc: the built
    view appends a layer, the unbuilt one gets its first base."""
    mid = _mid_seq(spark, sf_dir)
    eng = Engine(spark, sf_dir, str(tmp_path / "uneq"))
    eng.put_design("dd", REFRESH_VIEWS)
    eng.update_view("dd/by_flag", None, mid)
    if big_qty == "built":
        eng.update_view("dd/big_qty", None, mid + mid // 2)
    eng.refresh_ddoc("dd")
    entry = eng.registry.get_view(eng.registry.resolve("dd", "by_flag"))
    assert len(entry["layers"]) == 1
    if big_qty == "unbuilt":
        entry = eng.registry.get_view(eng.registry.resolve("dd", "big_qty"))
        assert entry["base"] == "base-v1" and not entry["layers"]

    ref = Engine(spark, sf_dir, str(tmp_path / "uneq-ref"))
    ref.put_design("dd", REFRESH_VIEWS)
    for n in ("dd/by_flag", "dd/big_qty"):
        ref.update_view(n)
    for n, opts in (
        ("dd/by_flag", {"group_level": 2}),
        ("dd/big_qty", {"reduce": False, "limit": 200}),
    ):
        got = eng.query(n, stale="ok", **opts).rows()
        want = ref.query(n, stale="ok", **opts).rows()
        assert got == want and got, n
        sig_g = eng.registry.resolve(*n.split("/"))
        sig_w = ref.registry.resolve(*n.split("/"))
        assert (eng.registry.get_view(sig_g)["last_seq"]
                == ref.registry.get_view(sig_w)["last_seq"]), n
        assert (eng.registry.get_view(sig_g)["stats"]["rows"]
                == ref.registry.get_view(sig_w)["stats"]["rows"]), n


def test_refresh_ddoc_noop_and_fallback(spark, sf_dir, tmp_path):
    """No changes → no new layers, checkpoints untouched; unbuilt and
    interpreted views route through the per-view path."""
    eng = Engine(spark, sf_dir, str(tmp_path / "noop"))
    views = dict(REFRESH_VIEWS)
    views["js"] = {"map": (
        "orders",
        "function(doc) { var s = doc.o_orderstatus; emit(s + '!', 1); }",
    ), "reduce": "_count"}
    eng.put_design("dd", views)
    for n in ("dd/by_flag", "dd/big_qty"):
        eng.update_view(n)
    # dd/js never built → refresh_ddoc must build it per-view
    eng.refresh_ddoc("dd")
    assert eng.query("dd/js", stale="ok", group=True).rows()
    before = {
        n: eng.registry.get_view(eng.registry.resolve("dd", n))
        for n in ("by_flag", "big_qty")
    }
    assert all(not e["layers"] for e in before.values()), \
        "no-change refresh must not append layers"
    eng.refresh_ddoc("dd")
    after = {
        n: eng.registry.get_view(eng.registry.resolve("dd", n))
        for n in ("by_flag", "big_qty")
    }
    assert before == after


@pytest.mark.parametrize("fused", [False, True],
                         ids=["update_view", "refresh_ddoc"])
def test_compacting_refresh_stats_exact_and_crash_recovers(
    spark, sf_dir, tmp_path, monkeypatch, fused
):
    """A refresh that fully compacts skips the superseded-row count
    (the compaction re-observes exact stats), so the layer it appends
    is recorded with stats=None.  A crash between that append and the
    compaction must leave no inexact row total: a fresh Engine on the
    same storage counts total_rows, answers like a rebuild, and its
    next refresh compacts back to exact stats."""
    raw = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    seq = (F.col("l_orderkey") * 8 + F.col("l_linenumber")).cast("long")
    top = raw.agg(F.max(seq)).collect()[0][0]
    cuts = [top * k // 6 for k in range(1, 6)]
    names = ["dd/by_flag", "dd/big_qty"] if fused else ["dd/by_flag"]
    store = str(tmp_path / "views")

    def open_engine(path=store):
        eng = Engine(spark, sf_dir, path, compact_after=2)
        eng.put_design("dd", REFRESH_VIEWS)
        return eng

    def refresh(eng, to_seq):
        if fused:
            eng.refresh_ddoc("dd", to_seq=to_seq)
        else:
            eng.update_view(names[0], None, to_seq)

    def state(eng, n):
        sig = eng.registry.resolve(*n.split("/"))
        return eng.registry.get_view(sig), eng._assemble_view(sig).count()

    def assert_compacted_exact(eng, version):
        for n in names:
            entry, rows = state(eng, n)
            assert not entry["layers"], n
            assert entry["base_version"] == version, n
            assert entry["stats"]["rows"] == rows, n

    eng = open_engine()
    for n in names:
        eng.update_view(n, None, cuts[0])
    refresh(eng, cuts[1])  # first layer
    refresh(eng, cuts[2])  # second layer: compacts
    assert_compacted_exact(eng, 2)
    refresh(eng, cuts[3])  # first layer on the new base

    def crash(sig, entry):
        raise RuntimeError("crash after the layer append")

    monkeypatch.setattr(eng, "_compact", crash)
    with pytest.raises(RuntimeError, match="crash after"):
        refresh(eng, cuts[4])  # second layer: the compaction crashes
    monkeypatch.undo()

    eng = open_engine()
    crashed = 0
    for n in names:
        entry, rows = state(eng, n)
        if len(entry["layers"]) == 2:
            crashed += 1
            assert entry["stats"] is None, n
        else:  # a fused sibling the crash stopped before its append
            assert entry["stats"]["rows"] == rows, n
        res = eng.query(n, reduce=False, stale="ok", limit=1)
        assert res.total_rows == rows, n
    assert crashed >= 1
    sig = eng.registry.resolve("dd", "by_flag")
    ref = open_engine(str(tmp_path / "ref"))
    ref.update_view("dd/by_flag", None,
                    eng.registry.get_view(sig)["last_seq"])
    assert (_rows(eng.query("dd/by_flag", group_level=2, stale="ok"))
            == _rows(ref.query("dd/by_flag", group_level=2, stale="ok")))

    refresh(eng, None)  # finds the stack at compact_after: compacts
    assert_compacted_exact(eng, 3)
    ref.update_view("dd/by_flag")
    assert (_rows(eng.query("dd/by_flag", group_level=2, stale="ok"))
            == _rows(ref.query("dd/by_flag", group_level=2, stale="ok")))


def _counts_and_base_ids(spark, vdir, base_rel):
    """A base's ``counts-<base>`` file as sorted (id, n) rows, and the
    same rows computed as ``groupBy(id).count()`` over the base."""
    counts = spark.read.parquet(os.path.join(vdir, f"counts-{base_rel}"))
    base = spark.read.parquet(os.path.join(vdir, base_rel))
    return (sorted(map(tuple, counts.select("id", "n").collect())),
            sorted(map(tuple, base.groupBy("id").count().collect())))


def test_small_compaction_is_one_task_and_range_path_agrees(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Refreshes of a small view (registry row counts under
    ``sizing.ONE_FILE_MAX_ROWS`` and ``ONE_TASK_VIEW_MAX_ROWS``) write
    their count files and the compacted base with no exchange; the base is
    one parquet file sorted by (key_enc, id), with exact stats, and its
    counts file one file sorted by id.  With both limits at 0 the same
    sequence takes the range / exchange path (shuffles, more jobs) and
    gives the same answer and stats.  On both paths every base's counts
    file holds ``groupBy(id).count()`` of that base."""
    raw = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    part = F.col("l_orderkey") % 3

    def run(store):
        eng = Engine(spark, sf_dir, store, compact_after=2)
        eng.put_design("d", {"v": VIEW})
        eng.update_view("d/v", changes=raw.filter(part == 0))
        # a first layer, then a compacting refresh; each re-sends the
        # previous batch's docs, so both supersede rows
        with measure(spark, "refreshes") as m:
            eng.update_view("d/v", changes=raw.filter(part != 2))
            eng.update_view("d/v", changes=raw.filter(part != 0))
        sig = eng.registry.resolve("d", "v")
        entry = eng.registry.get_view(sig)
        assert not entry["layers"] and entry["base_version"] == 2
        assert entry["stats"]["rows"] == eng._assemble_view(sig).count()
        grouped = _rows(eng.query("d/v", group_level=2, stale="ok"))
        return eng.registry.view_dir(sig), entry, grouped, m

    vdir, entry, grouped, m = run(str(tmp_path / "one"))
    # both lcounts and the compaction: no exchange at all
    assert m["shuffle_write"] == 0
    for base_rel in ("base-v1", entry["base"]):
        got, want = _counts_and_base_ids(spark, vdir, base_rel)
        assert got == want, base_rel
    counts = os.path.join(vdir, entry["counts"])
    (cfile,) = [f for f in os.listdir(counts) if f.endswith(".parquet")]
    ids = pq.read_table(os.path.join(counts, cfile),
                        columns=["id"]).column("id").to_pylist()
    assert ids == sorted(ids) and len(ids) == len(set(ids))
    assert entry["stats"]["rows"] == raw.count()
    base = os.path.join(vdir, entry["base"])
    files = [f for f in os.listdir(base) if f.endswith(".parquet")]
    assert len(files) == 1
    rows = pq.read_table(
        os.path.join(base, files[0]), columns=["key_enc", "id"]
    ).to_pylist()
    keys = [(r["key_enc"], r["id"]) for r in rows]
    assert len(keys) == entry["stats"]["rows"]
    assert keys == sorted(keys)

    monkeypatch.setattr(sizing, "ONE_FILE_MAX_ROWS", 0)
    monkeypatch.setattr(sizing, "ONE_TASK_VIEW_MAX_ROWS", 0)
    rvdir, rentry, rgrouped, rm = run(str(tmp_path / "range"))
    assert rentry["stats"]["rows"] == entry["stats"]["rows"]
    for base_rel in ("base-v1", rentry["base"]):
        got, want = _counts_and_base_ids(spark, rvdir, base_rel)
        assert got == want, base_rel
    assert rgrouped == grouped
    assert rm["shuffle_write"] > 0 and rm["jobs"] > m["jobs"]


@pytest.mark.parametrize(
    "fused", [False, True], ids=["update_view", "refresh_ddoc"]
)
def test_count_writes_crash_before_layer_commit_recovers(
    spark, sf_dir, tmp_path, monkeypatch, fused
):
    """A refresh that crashes after its count file is on disk (the
    batch's ``lcounts-<batch>``) but before its layer commits leaves
    only an orphan file: a fresh Engine on the same storage keeps the
    old ``last_seq`` and the base counts the build committed, and
    answers like a from-scratch build; the retried refresh overwrites
    the orphan and keeps ``stats.rows`` exact."""
    raw = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    seq = (F.col("l_orderkey") * 8 + F.col("l_linenumber")).cast("long")
    top = raw.agg(F.max(seq)).collect()[0][0]
    cuts = [top // 3, 2 * top // 3]
    names = ["dd/by_flag", "dd/big_qty"] if fused else ["dd/by_flag"]
    store = str(tmp_path / "views")

    def open_engine(path=store):
        eng = Engine(spark, sf_dir, path, compact_after=3)
        eng.put_design("dd", REFRESH_VIEWS)
        return eng

    def refresh(eng, to_seq):
        if fused:
            eng.refresh_ddoc("dd", to_seq=to_seq)
        else:
            eng.update_view(names[0], None, to_seq)

    def grouped(eng):
        return _rows(eng.query("dd/by_flag", group_level=2, stale="ok"))

    def no_dup_ids(path):
        ids = spark.read.parquet(path).select("id")
        return ids.count() == ids.distinct().count()

    eng = open_engine()
    for n in names:
        eng.update_view(n, None, cuts[0])
    sig = eng.registry.resolve("dd", "by_flag")
    vdir = eng.registry.view_dir(sig)
    built = eng.registry.get_view(sig)
    counts = os.path.join(vdir, f"counts-{built['base']}")
    lcounts = os.path.join(vdir, f"lcounts-{built['next_batch']}")

    def crash(sig, entry):
        raise RuntimeError("crash before the layer commit")

    monkeypatch.setattr(eng.registry, "set_view", crash)
    with pytest.raises(RuntimeError, match="crash before"):
        refresh(eng, cuts[1])
    monkeypatch.undo()
    assert os.path.isdir(counts) and os.path.isdir(lcounts)

    eng = open_engine()
    entry = eng.registry.get_view(sig)
    assert entry["last_seq"] == built["last_seq"]
    assert not entry["layers"] and entry["counts"] == built["counts"]
    ref = open_engine(str(tmp_path / "ref"))
    ref.update_view("dd/by_flag", None, built["last_seq"])
    assert grouped(eng) == grouped(ref)

    refresh(eng, cuts[1])  # retried: rewrites both orphans
    for n in names:
        nsig = eng.registry.resolve(*n.split("/"))
        entry = eng.registry.get_view(nsig)
        assert len(entry["layers"]) == 1, n
        assert entry["last_seq"] > built["last_seq"], n
        assert (entry["stats"]["rows"]
                == eng._assemble_view(nsig).count()), n
    assert no_dup_ids(counts) and no_dup_ids(lcounts)
    ref.update_view("dd/by_flag", None, cuts[1])
    assert grouped(eng) == grouped(ref)


@pytest.mark.parametrize(
    "fused", [False, True], ids=["update_view", "build_ddoc"]
)
def test_first_build_crash_at_commit_recovers(
    spark, sf_dir, tmp_path, monkeypatch, fused
):
    """A first build that crashes after ``_write_bases`` renamed each
    view's ``base-v1`` and ``counts-base-v1`` into place but before the
    registry commit leaves them orphans and no temporary directory: a
    fresh Engine on the same storage sees no index, its retried build
    overwrites the orphans and answers like a from-scratch build, and
    vacuum then leaves only the directories the registry references."""
    names = ["dd/by_flag", "dd/big_qty"] if fused else ["dd/by_flag"]
    store = str(tmp_path / "views")

    def open_engine(path=store):
        eng = Engine(spark, sf_dir, path)
        eng.put_design("dd", REFRESH_VIEWS)
        return eng

    def build(eng):
        if fused:
            eng.build_ddoc("dd")
        else:
            eng.update_view(names[0])

    def files(vdir):
        return {os.path.join(d, f) for d in ("base-v1", "counts-base-v1")
                for f in os.listdir(os.path.join(vdir, d))}

    def crash(sig, entry):
        raise RuntimeError("crash at the build commit")

    eng = open_engine()
    monkeypatch.setattr(eng.registry, "set_view", crash)
    with pytest.raises(RuntimeError, match="crash at the build commit"):
        build(eng)
    monkeypatch.undo()
    vdirs = {n: eng.registry.view_dir(eng.registry.resolve(*n.split("/")))
             for n in names}
    orphans = {n: files(vdir) for n, vdir in vdirs.items()}
    assert not [d for d in os.listdir(store) if d.startswith("bases-")]

    eng = open_engine()
    for n in names:
        entry = eng.registry.get_view(eng.registry.resolve(*n.split("/")))
        assert entry is None or entry["base"] is None, n
    build(eng)
    ref = open_engine(str(tmp_path / "ref"))
    build(ref)
    for n, vdir in vdirs.items():
        sig = eng.registry.resolve(*n.split("/"))
        entry = eng.registry.get_view(sig)
        assert entry["base"] == "base-v1", n
        assert entry["counts"] == "counts-base-v1", n
        assert not files(vdir) & orphans[n], n  # overwritten, not merged
        assert entry["stats"]["rows"] == eng._assemble_view(sig).count()
        got, want = _counts_and_base_ids(spark, vdir, entry["base"])
        assert got == want, n
        eng.vacuum(sig)
        assert set(os.listdir(vdir)) == {entry["base"], entry["counts"]}
    for n, opts in (("dd/by_flag", {"group_level": 2}),
                    ("dd/big_qty", {"reduce": False, "limit": 50})):
        if n in names:
            assert (eng.query(n, stale="ok", **opts).rows()
                    == ref.query(n, stale="ok", **opts).rows()), n


def test_base_without_counts_refreshes_then_compaction_writes_them(
    spark, sf_dir, tmp_path
):
    """Storage written before bases carried their counts file holds
    ``counts: None``.  A first-layer refresh of such a base writes its
    lcounts without the superseded-row lookup and records
    ``stats=None`` (``total_rows`` then counts), answering like a
    from-scratch build; the next compaction writes the counts file and
    exact stats."""
    b0, b1, b2 = _batches(spark, sf_dir, 3)
    eng = Engine(spark, sf_dir, str(tmp_path / "views"), compact_after=99)
    eng.put_design("d", {"v": VIEW})
    eng.update_view("d/v", changes=b0)
    sig = eng.registry.resolve("d", "v")
    vdir = eng.registry.view_dir(sig)
    shutil.rmtree(os.path.join(vdir, "counts-base-v1"))

    def drop_counts(state):
        state["views"][sig]["counts"] = None

    eng.registry.update(drop_counts)
    # re-sends the built batch, so the refresh supersedes rows
    eng.update_view("d/v", changes=b0.unionByName(b1))
    eng.update_view("d/v", changes=b2)
    entry = eng.registry.get_view(sig)
    assert len(entry["layers"]) == 2 and entry["counts"] is None
    assert entry["stats"] is None
    ref = Engine(spark, sf_dir, str(tmp_path / "ref"))
    ref.put_design("d", {"v": VIEW})
    ref.update_view("d/v", changes=b0.unionByName(b1).unionByName(b2))
    want = _rows(ref.query("d/v", group_level=2, stale="ok"))
    total = ref.registry.get_view(ref.registry.resolve("d", "v"))
    assert _rows(eng.query("d/v", group_level=2, stale="ok")) == want
    res = eng.query("d/v", reduce=False, stale="ok", limit=1)
    assert res.total_rows == total["stats"]["rows"]

    eng.compact("d/v")
    entry = eng.registry.get_view(sig)
    assert entry["counts"] == f"counts-{entry['base']}"
    assert entry["stats"]["rows"] == total["stats"]["rows"]
    assert entry["stats"]["rows"] == eng._assemble_view(sig).count()
    got, counted = _counts_and_base_ids(spark, vdir, entry["base"])
    assert got == counted
    assert _rows(eng.query("d/v", group_level=2, stale="ok")) == want


@pytest.mark.parametrize(
    "fused", [False, True], ids=["update_view", "refresh_ddoc"]
)
def test_compaction_crash_at_base_swap_recovers(
    spark, sf_dir, tmp_path, monkeypatch, fused
):
    """A compaction that crashes after ``base-v<N+1>`` is on disk but
    before the registry swaps to it leaves that base an orphan: a fresh
    Engine on the same storage keeps the committed ``last_seq`` and
    layer stack and answers like a from-scratch build; the next refresh
    compacts again, overwriting the orphan, with exact ``stats.rows``;
    vacuum then leaves only the directories the registry references."""
    raw = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    seq = (F.col("l_orderkey") * 8 + F.col("l_linenumber")).cast("long")
    top = raw.agg(F.max(seq)).collect()[0][0]
    cuts = [top // 3, top // 2, 2 * top // 3]
    names = ["dd/by_flag", "dd/big_qty"] if fused else ["dd/by_flag"]
    store = str(tmp_path / "views")

    def open_engine(path=store):
        eng = Engine(spark, sf_dir, path, compact_after=2)
        eng.put_design("dd", REFRESH_VIEWS)
        return eng

    def refresh(eng, to_seq):
        if fused:
            eng.refresh_ddoc("dd", to_seq=to_seq)
        else:
            eng.update_view(names[0], None, to_seq)

    def grouped(eng):
        return _rows(eng.query("dd/by_flag", group_level=2, stale="ok"))

    def entries(eng):
        return {n: eng.registry.get_view(eng.registry.resolve(
            *n.split("/"))) for n in names}

    eng = open_engine()
    for n in names:
        eng.update_view(n, None, cuts[0])
    refresh(eng, cuts[1])  # first layer
    real_compact = eng._compact
    committed = {}

    def crash(*_):
        raise RuntimeError("crash at the base swap")

    def compact_then_crash(sig, entry):
        committed.update(entries(eng))
        monkeypatch.setattr(eng.registry, "set_view", crash)
        real_compact(sig, entry)

    monkeypatch.setattr(eng, "_compact", compact_then_crash)
    with pytest.raises(RuntimeError, match="crash at the base swap"):
        refresh(eng, cuts[2])  # second layer: the compaction crashes
    monkeypatch.undo()
    crashed = [n for n, e in committed.items() if len(e["layers"]) == 2]
    assert crashed
    for n in crashed:
        vdir = eng.registry.view_dir(eng.registry.resolve(*n.split("/")))
        assert os.path.isdir(os.path.join(vdir, "base-v2")), n

    eng = open_engine()
    assert entries(eng) == committed  # last_seq and layers unchanged
    last_seq = committed["dd/by_flag"]["last_seq"]
    ref = open_engine(str(tmp_path / "ref"))
    ref.update_view("dd/by_flag", None, last_seq)
    assert grouped(eng) == grouped(ref)

    refresh(eng, None)  # finds the stack at compact_after: compacts
    for n, entry in entries(eng).items():
        sig = eng.registry.resolve(*n.split("/"))
        assert not entry["layers"] and entry["base"] == "base-v2", n
        assert entry["stats"]["rows"] == eng._assemble_view(sig).count()
        eng.vacuum(sig)
        vdir = eng.registry.view_dir(sig)
        referenced = {entry["base"], entry.get("counts")} - {None}
        assert set(os.listdir(vdir)) == referenced, n
    ref.update_view("dd/by_flag")
    assert grouped(eng) == grouped(ref)


@pytest.mark.parametrize(
    "fused", [False, True], ids=["update_view", "refresh_ddoc"]
)
def test_delta_rename_crash_before_layer_commit_recovers(
    spark, sf_dir, tmp_path, monkeypatch, fused
):
    """A refresh that crashes after ``_take_part`` renamed
    ``delta-<batch>`` into place but before ``_append_layer`` leaves
    that delta an orphan: a fresh Engine on the same storage keeps the
    committed ``last_seq`` and layer stack and answers like a
    from-scratch build at that ``last_seq``; the retry (over a larger
    batch) overwrites the orphan, with exact ``stats.rows``; vacuum
    then leaves only the directories the registry references."""
    raw = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    seq = (F.col("l_orderkey") * 8 + F.col("l_linenumber")).cast("long")
    top = raw.agg(F.max(seq)).collect()[0][0]
    cuts = [top // 3, top // 2, 2 * top // 3]
    names = ["dd/by_flag", "dd/big_qty"] if fused else ["dd/by_flag"]
    store = str(tmp_path / "views")

    def open_engine(path=store):
        eng = Engine(spark, sf_dir, path, compact_after=2)
        eng.put_design("dd", REFRESH_VIEWS)
        return eng

    def refresh(eng, to_seq):
        if fused:
            eng.refresh_ddoc("dd", to_seq=to_seq)
        else:
            eng.update_view(names[0], None, to_seq)

    def grouped(eng):
        return _rows(eng.query("dd/by_flag", group_level=2, stale="ok"))

    def entries(eng):
        return {n: eng.registry.get_view(eng.registry.resolve(
            *n.split("/"))) for n in names}

    eng = open_engine()
    for n in names:
        eng.update_view(n, None, cuts[0])
    committed = entries(eng)
    orphans = []

    def crash(sig, entry, batch, *_):
        orphans.append(os.path.join(eng.registry.view_dir(sig),
                                    f"delta-{batch}"))
        raise RuntimeError("crash after the delta rename")

    monkeypatch.setattr(eng, "_append_layer", crash)
    with pytest.raises(RuntimeError, match="crash after the delta rename"):
        refresh(eng, cuts[1])
    monkeypatch.undo()
    assert orphans and all(os.path.isdir(p) for p in orphans)

    eng = open_engine()
    assert entries(eng) == committed  # last_seq and layers unchanged
    last_seq = committed["dd/by_flag"]["last_seq"]
    ref = open_engine(str(tmp_path / "ref"))
    ref.update_view("dd/by_flag", None, last_seq)
    assert grouped(eng) == grouped(ref)

    refresh(eng, cuts[2])  # retried over a larger batch
    for n, entry in entries(eng).items():
        sig = eng.registry.resolve(*n.split("/"))
        vdir = eng.registry.view_dir(sig)
        (layer,) = entry["layers"]
        assert layer["delta"] == f"delta-{committed[n]['next_batch']}", n
        assert entry["last_seq"] > last_seq, n
        delta = spark.read.parquet(os.path.join(vdir, layer["delta"]))
        assert delta.count() == layer["rows"], n  # the orphan is gone
        assert entry["stats"]["rows"] == eng._assemble_view(sig).count()
        eng.vacuum(sig)
        referenced = {entry["base"], entry["counts"], layer["delta"],
                      layer["lcounts"]}
        assert set(os.listdir(vdir)) == referenced, n
    ref.update_view("dd/by_flag", None, cuts[2])
    assert grouped(eng) == grouped(ref)


@pytest.mark.parametrize(
    "fused", [False, True], ids=["update_view", "refresh_ddoc"]
)
def test_registry_rows_bound_the_scanned_files(
    spark, sf_dir, tmp_path, fused
):
    """The row counts a refresh records (``base_rows``, each layer's
    delta ``rows`` and ``n``) bound the files the one-task writes scan:
    a compaction reads the base and every delta, the count pieces the
    base counts and every layer's lcounts."""
    raw = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    seq = (F.col("l_orderkey") * 8 + F.col("l_linenumber")).cast("long")
    top = raw.agg(F.max(seq)).collect()[0][0]
    names = ["dd/by_flag", "dd/big_qty"] if fused else ["dd/by_flag"]
    eng = Engine(spark, sf_dir, str(tmp_path), compact_after=3)
    eng.put_design("dd", REFRESH_VIEWS)
    for n in names:
        eng.update_view(n, None, top // 3)
    for to_seq in (top // 2, 2 * top // 3):  # two layers, no compaction
        if fused:
            eng.refresh_ddoc("dd", to_seq=to_seq)
        else:
            eng.update_view(names[0], None, to_seq)
    for n in names:
        sig = eng.registry.resolve(*n.split("/"))
        vdir = eng.registry.view_dir(sig)
        entry = eng.registry.get_view(sig)

        def rows(rel):
            return spark.read.parquet(os.path.join(vdir, rel)).count()

        assert len(entry["layers"]) == 2, n
        assert entry["base_rows"] == rows(entry["base"]), n
        assert rows(entry["counts"]) <= entry["base_rows"], n
        for layer in entry["layers"]:
            assert layer["rows"] == rows(layer["delta"]), n
            assert layer["n"] >= rows(layer["lcounts"]), n
        assert sizing.registry_rows(entry, "rows") == (
            rows(entry["base"])
            + sum(rows(layer["delta"]) for layer in entry["layers"])
        ), n


def test_fused_sort_gate_round11(spark, sf_dir, tmp_path):
    """The small-result sort fusion (VERDICT r10 #1) picks plans by
    the stats bound:

    - a persisted small view sorts in ONE partition — no
      RangePartitioning (and no partitioner sampling job) in the
      executed plan of a grouped reduce or a sorted map range;
    - with the bound ABOVE the gate the global range-exchange sort
      comes back (the 100 TB plan);
    - both shapes return identical rows.
    """
    from mapreduce_spark.engine import Engine
    from mapreduce_spark.operators import query as Q
    from mapreduce_spark.operators.mapphase import MapSpec

    eng = Engine(spark, sf_dir, str(tmp_path / "fs"))
    eng.put_design("fs", {
        "v": {"map": MapSpec(
            "lineitem",
            [("str", "l_returnflag"), ("str", "l_linestatus")],
            ("num", "l_quantity"),
        ), "reduce": "_sum"},
    })
    eng.build_ddoc("fs")

    def plan(**kw):
        df = eng.query("fs/v", stale="ok", **kw).df
        rows = df.collect()
        return rows, df._jdf.queryExecution().executedPlan().toString()

    # fused: grouped reduce on a small view — single-partition sort
    rows_f, p = plan(group=True)
    assert "rangepartitioning" not in p.lower(), p[:800]
    # fused: sorted map range
    rows_mf, pm = plan(reduce=False, startkey=["A"], endkey=["N", {}])
    assert "rangepartitioning" not in pm.lower(), pm[:800]

    # force the global path by shrinking the gate; a view assembled in
    # one task is already one partition, which satisfies orderBy with
    # no range exchange, so take the parallel assembly too
    orig = Q.FUSED_SORT_MAX_ROWS
    Q.FUSED_SORT_MAX_ROWS = 0
    orig_one = sizing.ONE_TASK_VIEW_MAX_ROWS
    sizing.ONE_TASK_VIEW_MAX_ROWS = 0
    try:
        rows_g, pg = plan(group=True)
        assert "rangepartitioning" in pg.lower(), pg[:800]
        rows_mg, pmg = plan(reduce=False, startkey=["A"],
                            endkey=["N", {}])
        assert "rangepartitioning" in pmg.lower(), pmg[:800]
    finally:
        Q.FUSED_SORT_MAX_ROWS = orig
        sizing.ONE_TASK_VIEW_MAX_ROWS = orig_one
    as_t = lambda rs: [tuple(r) for r in rs]  # noqa: E731
    assert as_t(rows_f) == as_t(rows_g)
    assert as_t(rows_mf) == as_t(rows_mg)

    # the gate input exists: build wrote the HLL distinct-key stat
    sig = eng.registry.resolve("fs", "v")
    stats = eng.registry.get_view(sig)["stats"]
    assert 0 < stats["keys"] <= stats["rows"]


def test_fused_sort_differential_fuzz_round11(spark, sf_dir, tmp_path):
    """Randomized differential over the query-option space: every
    option set must return IDENTICAL rows with the sort fusion on
    (default gate) and forced off (gate = 0 → the global-sort plans).
    Protects the round-11 plan rewrite across descending, bounds,
    inclusive_end, skip, limit, keys=, group levels and include_docs
    — any divergence is a real planner bug in one shape."""
    import random

    from mapreduce_spark.engine import Engine
    from mapreduce_spark.operators import query as Q
    from mapreduce_spark.operators.mapphase import MapSpec

    eng = Engine(spark, sf_dir, str(tmp_path / "fz"))
    eng.put_design("fz", {
        "m": {"map": MapSpec(
            "lineitem",
            [("str", "l_returnflag"), ("str", "l_linestatus")],
            ("num", "l_quantity"),
        )},
        "r": {"map": MapSpec(
            "orders", ("str", "o_orderpriority"),
            ("num", "o_totalprice"),
        ), "reduce": "_sum"},
    })
    eng.build_ddoc("fz")
    rng = random.Random(20260815)
    keys_pool = [["A", "F"], ["N", "O"], ["R", "F"], ["A", "F"]]

    def rand_opts():
        o: dict = {}
        view = rng.choice(["fz/m", "fz/r"])
        if view == "fz/r":
            o["group"] = rng.random() < 0.7
            if not o["group"] and rng.random() < 0.5:
                o["group_level"] = 0
        else:
            if rng.random() < 0.3:
                o["include_docs"] = True
            if rng.random() < 0.4:
                o["descending"] = True
            r = rng.random()
            if r < 0.3:
                o["startkey"] = [rng.choice("ANR")]
                o["endkey"] = [rng.choice("ANR"), {}]
                if o.get("descending"):
                    o["startkey"], o["endkey"] = \
                        o["endkey"], o["startkey"]
                if rng.random() < 0.4:
                    o["inclusive_end"] = False
            elif r < 0.45:
                o["keys"] = [rng.choice(keys_pool)
                             for _ in range(rng.randint(1, 3))]
        if rng.random() < 0.4:
            o["skip"] = rng.randint(0, 5)
        if rng.random() < 0.5:
            o["limit"] = rng.randint(1, 40)
        return view, o

    orig = Q.FUSED_SORT_MAX_ROWS
    for i in range(25):
        view, o = rand_opts()
        try:
            fused = [tuple(r) for r in
                     eng.query(view, stale="ok", **o).df.collect()]
            Q.FUSED_SORT_MAX_ROWS = 0
            plain = [tuple(r) for r in
                     eng.query(view, stale="ok", **o).df.collect()]
        finally:
            Q.FUSED_SORT_MAX_ROWS = orig
        assert fused == plain, (view, o, fused[:3], plain[:3])


def test_include_docs_collapse_gated_by_pk_unique_round11(
    spark, sf_dir, tmp_path
):
    """Doc-fetch side of include_docs: declared-unique tables
    (customer) carry NO duplicate-id collapse aggregate in the plan;
    lineitem — whose driver data duplicates ~20% of pk pairs — keeps
    the collapse AND the row-count guarantee (limit=N returns N rows,
    not one per duplicate body)."""
    from mapreduce_spark.engine import Engine
    from mapreduce_spark.operators.mapphase import MapSpec

    eng = Engine(spark, sf_dir, str(tmp_path / "pk"))
    eng.put_design("pk", {
        "c": {"map": MapSpec("customer", ("str", "c_mktsegment"))},
        "l": {"map": MapSpec(
            "lineitem",
            [("str", "l_returnflag"), ("str", "l_linestatus")],
        )},
    })
    eng.build_ddoc("pk")

    rc = eng.query("pk/c", include_docs=True, limit=7, stale="ok")
    plan_c = rc.df._jdf.queryExecution().executedPlan().toString()
    assert "max(doc_json" not in plan_c, plan_c[:900]
    assert len(rc.df.collect()) == 7

    rl = eng.query("pk/l", include_docs=True, limit=7, stale="ok")
    plan_l = rl.df._jdf.queryExecution().executedPlan().toString()
    assert "max(doc_json" in plan_l, plan_l[:900]
    assert len(rl.df.collect()) == 7  # duplicates collapsed
