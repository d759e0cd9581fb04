"""IVF multi-assignment (assign_r > 1) — the recall lever for
structure-free corpora (round 14).

Pins, against the single-assignment (r=1) baseline:

- ``_assign_cells(r=2)`` emits exactly the numpy top-2 cells per
  vector, primary (argmax) first, with the r=1 tie-break;
- the r=2 result DOMINATES r=1 per query (candidates are a superset,
  so the k-th cosine can only rise) and never duplicates a (qid, vid)
  pair across a query's k slots;
- bundle round-trip: meta/base_n in vector units, a deduped vid
  sidecar, append/compact/retrain preserving the r-rows-per-vector
  store invariant.
"""
from collections import defaultdict

import numpy as np
import pytest
from pyspark.sql import functions as F

from mapreduce_spark.extensions import similarity
from mapreduce_spark.extensions.util import normalized_vectors

DIM = 16
N = 1500


@pytest.fixture(scope="module")
def rnd_emb(spark):
    """Deterministic hash-random embeddings — no cluster structure,
    the regime where single-assignment recall is weakest."""
    comps = [
        (F.xxhash64(F.col("id"), F.lit(i)) % 1000 / 500.0).cast("float")
        for i in range(DIM)
    ]
    emb = spark.range(N).select(
        F.col("id").alias("vec_id"), F.array(*comps).alias("embedding")
    )
    emb = emb.cache()
    emb.count()
    yield emb
    emb.unpersist()


def test_assign_cells_r2_matches_numpy_top2(rnd_emb):
    nd = normalized_vectors(rnd_emb)
    cents = similarity.ivf_centroids(rnd_emb, 16, nd=nd)
    got = defaultdict(list)
    for r in similarity._assign_cells(nd, cents, r=2).collect():
        got[r.vid].append(r.cell)
    C = np.array(cents)
    for r in nd.collect():
        order = np.argsort(-(C @ np.array(r.nv)), kind="stable")[:2]
        assert got[r.vid] == [int(x) for x in order]
    assert all(len(v) == 2 for v in got.values())


def test_assign_r_clamped_to_codebook(rnd_emb, tmp_path):
    nd = normalized_vectors(rnd_emb).limit(50)
    cents = similarity.ivf_centroids(rnd_emb, 8, nd=nd)
    rows = similarity._assign_cells(nd, cents, r=99).collect()
    per = defaultdict(set)
    for r in rows:
        per[r.vid].add(r.cell)
    # r clamps to len(cents): every vector in every cell, no dupes
    assert all(len(cells) == len(cents) for cells in per.values())
    # the bundle meta records the EFFECTIVE width, so base_n stays in
    # vector units even for an over-asked r
    meta = similarity.write_ivf_index(
        similarity._assign_cells(nd, cents, r=99), cents,
        str(tmp_path / "bc"), assign_r=99,
    )
    assert meta["assign_r"] == len(cents)
    assert meta["base_n"] == 50


def test_r2_dominates_r1_and_no_duplicate_slots(rnd_emb):
    qids, k = list(range(8)), 5
    r1 = similarity.ivf_topk(rnd_emb, qids, k, n_cells=16, nprobe=2)
    r2 = similarity.ivf_topk(
        rnd_emb, qids, k, n_cells=16, nprobe=2, assign_r=2
    )
    d1, d2 = r1.collect(), r2.collect()
    assert len({(x.qid, x.vid) for x in d2}) == len(d2) == len(qids) * k
    worst1 = {q: min(x.cosine for x in d1 if x.qid == q) for q in qids}
    for q in qids:
        worst2 = min(x.cosine for x in d2 if x.qid == q)
        # superset candidates: the k-th neighbor can only improve
        assert worst2 >= worst1[q] - 1e-12


def test_bundle_roundtrip_append_compact_retrain_r2(
    rnd_emb, tmp_path, spark
):
    dest = str(tmp_path / "bundle")
    idx, cents = similarity.ivf_index(rnd_emb, n_cells=16, assign_r=2)
    meta = similarity.write_ivf_index(idx, cents, dest, assign_r=2)
    assert meta["assign_r"] == 2
    assert meta["base_n"] == N  # vector units, not rows
    b = similarity.read_ivf_index(spark, dest)
    assert b.assign_r == 2
    assert b.cells.count() == 2 * N  # r rows per vector
    assert b.vids.count() == N      # deduped sidecar

    out = similarity.ivf_topk(
        None, list(range(6)), 4, index=b, nprobe=2
    ).collect()
    assert len(out) == len({(x.qid, x.vid) for x in out}) == 24

    comps = [
        (F.xxhash64(F.col("id"), F.lit(i)) % 997 / 498.0).cast("float")
        for i in range(DIM)
    ]
    new = spark.range(N, N + 200).select(
        F.col("id").alias("vec_id"), F.array(*comps).alias("embedding")
    )
    rep = similarity.ivf_append(dest, new)
    assert rep["appended"] == 200  # vector units
    b2 = similarity.read_ivf_index(spark, dest)
    assert b2.cells.count() == 2 * (N + 200)
    assert b2.vids.count() == N + 200

    cmeta = similarity.ivf_compact(spark, dest)
    assert cmeta["assign_r"] == 2
    assert cmeta["base_n"] == N + 200
    b3 = similarity.read_ivf_index(spark, dest)
    assert b3.cells.count() == 2 * (N + 200)
    assert b3.vids.count() == N + 200

    # force the retrain branch: it must dedupe the store before
    # training and reassign at the bundle's r
    import json as _json
    import os as _os

    mp = _os.path.join(dest, "meta.json")
    m = _json.load(open(mp))
    m["appended_fit_n"] = 100
    m["appended_fit_sum"] = (m["base_mean_fit"] - 0.5) * 100
    _json.dump(m, open(mp, "w"))
    act = similarity.ivf_maintain(spark, dest)
    assert act["action"] == "retrain"
    assert act["meta"]["assign_r"] == 2
    assert act["meta"]["base_n"] == N + 200
    b4 = similarity.read_ivf_index(spark, dest)
    assert b4.cells.count() == 2 * (N + 200)
    assert b4.vids.count() == N + 200
    out4 = similarity.ivf_topk(
        None, list(range(6)), 4, index=b4, nprobe=2
    ).collect()
    assert len(out4) == len({(x.qid, x.vid) for x in out4}) == 24


def test_r1_paths_unchanged(rnd_emb, tmp_path, spark):
    """Default assign_r=1 keeps the exact legacy shapes: no dedupe
    aggregate in the plan, one row per vector in both stores."""
    dest = str(tmp_path / "b1")
    idx, cents = similarity.ivf_index(rnd_emb, n_cells=16)
    meta = similarity.write_ivf_index(idx, cents, dest)
    assert meta["assign_r"] == 1 and meta["base_n"] == N
    b = similarity.read_ivf_index(spark, dest)
    assert b.assign_r == 1
    assert b.cells.count() == N and b.vids.count() == N
    def n_agg_nodes(df):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        # logical Aggregate NODES (line-leading, "Aggregate ["), not
        # the F.aggregate dot-product expression inside projections
        return sum(
            1 for ln in plan.splitlines()
            if ln.lstrip("+- :").startswith("Aggregate [")
        )

    # the (qid, vid) collapse aggregate exists ONLY on the r>1 path
    assert n_agg_nodes(
        similarity.ivf_topk(None, [0, 1], 3, index=b, nprobe=2)
    ) == 0
    b2 = similarity.IVFIndex(b.cells, b.vids, b.centroids, assign_r=2)
    assert n_agg_nodes(
        similarity.ivf_topk(None, [0, 1], 3, index=b2, nprobe=2)
    ) == 1
