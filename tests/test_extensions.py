"""Tests for the training-data extensions (dedup / similarity / text /
multimodal) at sf0.001: the approximate paths against their exact
baselines, plus the plumbing the oracle can't see."""

import pytest
from pyspark.sql import functions as F

from mapreduce_spark.extensions import dedup, multimodal, similarity, text
from mapreduce_spark.extensions.util import normalized_vectors


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------

def test_minhash_equals_exact_jaccard(docs):
    """LSH params are sized so candidate recall is ~1 at the threshold:
    banded MinHash output must equal the exact inverted-index pairs."""
    exact = {
        (r.id_a, r.id_b, round(r.jaccard, 6))
        for r in dedup.jaccard_pairs(docs, 0.5).collect()
    }
    lsh = {
        (r.id_a, r.id_b, round(r.jaccard, 6))
        for r in dedup.minhash_lsh_pairs(docs, 0.5).collect()
    }
    assert lsh == exact
    assert exact, "fixture should contain planted near-duplicates"


def test_jaccard_max_df_bounds_skewed_postings(docs, spark):
    """One stopword shingle shared by 1k docs would contribute
    C(1000,2) ≈ 5·10⁵ co-occurrence join rows; the default max_df cap
    drops it from the postings while unique shingles survive, and the
    organic-corpus output is unchanged (no shingle there hits the
    cap)."""
    hot = "the quick fox"  # one shared 3-gram + a unique tail per doc
    rows = [
        (50000 + i, f"{hot} tail{i} alpha{i} beta{i} gamma{i}",
         "en", "synthetic", 40)
        for i in range(1000)
    ]
    skew = spark.createDataFrame(rows, docs.schema)
    capped = dedup.shingle_postings(skew, max_df=100)
    assert capped.filter(F.col("s") == hot).count() == 0
    assert capped.count() == 1000 * 4  # the 4 unique shingles/doc kept
    uncapped = dedup.shingle_postings(skew, max_df=None)
    assert uncapped.filter(F.col("s") == hot).count() == 1000
    # capped pairs on the skewed corpus: no pair reaches t=0.5 (shared
    # content is exactly the capped shingle) and the join stays tiny
    assert dedup.jaccard_pairs(skew, 0.5, max_df=100).count() == 0
    # organic corpus: default cap leaves the exact output unchanged
    exact = {
        (r.id_a, r.id_b, round(r.jaccard, 6))
        for r in dedup.jaccard_pairs(docs, 0.5, max_df=None).collect()
    }
    dflt = {
        (r.id_a, r.id_b, round(r.jaccard, 6))
        for r in dedup.jaccard_pairs(docs, 0.5).collect()
    }
    assert dflt == exact and exact


def test_jaccard_prefix_filter_equals_brute_force(spark, docs):
    """The AllPairs/PPJoin prefix filter is lossless: on a randomized
    small-vocabulary corpus (forced shingle collisions, planted exact
    and near duplicates, sub-n shorties), the prefix-filtered join
    must emit EXACTLY the brute-force all-pairs Jaccard output at
    several thresholds."""
    import itertools
    import random

    rng = random.Random(20260814)
    vocab = [f"w{i}" for i in range(18)]  # tiny vocab → heavy overlap
    texts = {}
    for i in range(70):
        texts[i] = " ".join(
            rng.choice(vocab) for _ in range(rng.randint(4, 14))
        )
    texts[70] = texts[0]                      # exact duplicate
    texts[71] = texts[1] + " w1 w2"           # near duplicate
    texts[72] = "w0 w1"                       # shorter than n=3 words
    texts[73] = "w5"                          # single token
    rows = [(i, t, "en", "synthetic", len(t.split()))
            for i, t in texts.items()]
    corpus = spark.createDataFrame(rows, docs.schema)

    def sh(t, n=3):
        w = t.split(" ")
        return {
            " ".join(w[i:i + n]) for i in range(len(w) - n + 1)
        } if len(w) >= n else set()

    sets = {i: sh(t) for i, t in texts.items()}
    for threshold in (0.3, 0.5, 0.8):
        want = set()
        for a, b in itertools.combinations(sorted(sets), 2):
            u = sets[a] | sets[b]
            if not u:
                continue
            j = len(sets[a] & sets[b]) / len(u)
            if j >= threshold:
                want.add((a, b, round(j, 6)))
        got = {
            (r.id_a, r.id_b, round(r.jaccard, 6))
            for r in dedup.jaccard_pairs(
                corpus, threshold, max_df=None
            ).collect()
        }
        assert got == want, f"threshold {threshold}"
        # the planted exact duplicate pairs at every threshold
        assert (0, 70, 1.0) in want


def test_minhash_short_docs_excluded_from_buckets(docs, spark):
    """Docs shorter than n tokens share the sentinel signature; they
    must be dropped before bucketing (else k short docs make 32·C(k,2)
    candidate rows) without changing the output pair set."""
    short = spark.createDataFrame(
        [(90000 + i, "tiny", "en", "synthetic", 4) for i in range(50)],
        docs.schema,
    )
    base = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(docs, 0.5).collect()
    }
    with_short = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(
            docs.unionByName(short), 0.5
        ).collect()
    }
    assert with_short == base  # short docs can never pair at t>0


def test_exact_dedup_groups(docs, spark):
    """Append a literal duplicate; it must fold into its source's
    group with the source as canonical."""
    first = docs.orderBy("doc_id").first()
    dup = spark.createDataFrame(
        [(99999, first.text, first.lang, first.source, first.n_chars)],
        docs.schema,
    )
    out = dedup.exact_dedup(docs.unionByName(dup))
    grp = {r.doc_id: r for r in out.collect()}
    assert grp[99999].is_dup
    assert grp[99999].canonical_id == first.doc_id
    assert grp[99999].group_size == 2
    assert not grp[first.doc_id].is_dup


def test_simhash_near_dups_are_close(docs):
    """Near-dup pairs (jaccard >= 0.9) must have much lower SimHash
    hamming distance than the corpus background."""
    pairs = dedup.jaccard_pairs(docs, 0.9).collect()
    assert pairs
    sh = {r.doc_id: (r.sim_hi, r.sim_lo) for r in
          dedup.simhash(docs).collect()}

    def ham(a, b):
        return bin(sh[a][0] ^ sh[b][0]).count("1") + bin(
            sh[a][1] ^ sh[b][1]
        ).count("1")

    near = [ham(r.id_a, r.id_b) for r in pairs]
    ids = sorted(sh)[:30]
    background = [
        ham(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]
    ]
    assert max(near) < sorted(background)[len(background) // 2]


def test_simhash_pairs_blocking_finds_near_dups(docs):
    """The banded simhash_pairs must recover every all-pairs match at
    its own hamming threshold (pigeonhole blocking, then verify)."""
    got = {
        (r.id_a, r.id_b)
        for r in dedup.simhash_pairs(docs, max_hamming=3).collect()
    }
    sh = dedup.simhash(docs).collect()
    want = set()
    for i, a in enumerate(sh):
        for b in sh[i + 1:]:
            h = bin(a.sim_hi ^ b.sim_hi).count("1") + bin(
                a.sim_lo ^ b.sim_lo
            ).count("1")
            if h <= 3:
                key = (min(a.doc_id, b.doc_id), max(a.doc_id, b.doc_id))
                want.add(key)
    assert got == want


def _uf_min_labels(edges):
    """Driver-side union-find oracle: node → min id of its component."""
    nodes = sorted({x for e in edges for x in e})
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp = {}
    for n in nodes:
        comp.setdefault(find(n), []).append(n)
    out = {}
    for members in comp.values():
        m = min(members)
        for n in members:
            out[n] = m
    return out


def test_connected_components_equals_union_find(spark):
    """Alternating large-star/small-star vs a driver-side union-find
    on seeded random graphs, a 64-node path — the worst case for
    naive min-label propagation (diameter-many rounds) that the star
    alternation must close in O(log n) — and a 400-node random
    recursive tree (the deep megatree shape)."""
    import random

    cases = []
    for seed in (0, 2, 5):
        rng = random.Random(seed)
        n = rng.choice([10, 50, 200])
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randint(1, n * 2))
        ]
        cases.append([e for e in edges if e[0] != e[1]])
    cases.append([(i, i + 1) for i in range(63)])  # path-64
    rng = random.Random(7)
    cases.append([(i, rng.randrange(i)) for i in range(1, 400)])
    for edges in cases:
        want = _uf_min_labels(edges)
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {
            r["node"]: r["root"]
            for r in dedup.connected_components(df).collect()
        }
        assert got == want


def test_cluster_representatives_keep_best(spark):
    """Round 13: keep-best representative selection — within each
    cluster exactly ONE keep=true row: the highest quality, ties by
    lowest id.  Deterministic across partitionings."""
    labels = spark.createDataFrame(
        [(1, 1, 3), (2, 1, 3), (3, 1, 3),
         (10, 10, 2), (11, 10, 2)],
        "doc_id long, cluster_id long, cluster_size long",
    )
    quality = spark.createDataFrame(
        # cluster 1: doc 2 best; cluster 10: tie -> doc 10 (lower id)
        [(1, 0.2), (2, 0.9), (3, 0.5), (10, 0.7), (11, 0.7)],
        "doc_id long, quality double",
    )
    got = {r["doc_id"]: r["keep"] for r in
           dedup.cluster_representatives(
               labels.repartition(7), quality).collect()}
    assert got == {1: False, 2: True, 3: False,
                   10: True, 11: False}

    # review r13: a member MISSING from the quality frame is never
    # dropped (left join) — it sorts after scored members but keeps
    # its row; an all-unscored cluster still elects its lowest id
    got = {r["doc_id"]: r["keep"] for r in
           dedup.cluster_representatives(
               labels, quality.filter(~F.col("doc_id").isin(3, 10, 11))
           ).collect()}
    assert got == {1: False, 2: True, 3: False,
                   10: True, 11: False}
    assert len(got) == 5  # nobody silently deleted


def test_connected_components_mega_component(spark):
    """VERDICT r12 #1 (correctness pin for the skew rehearsal, whose
    timings are in BASELINE.md): one component holding ~40% of all
    nodes, in both adversarial shapes:

    - ``megastar``: pre-collapsed star on the min node — maximum
      groupBy/join key concentration from round 1;
    - ``megatree``: random recursive tree (parent(i) = hash(i) mod i)
      — the realistic LSH-pair shape, hot root emerging over rounds.

    Labels must be exact (every mega member → node 0, every star
    component → its own root) and the rest of the graph unaffected.
    The rehearsal's measured verdict: per-round cost is FLAT under
    maximum key concentration (megastar CPU 0.79× uniform at 10M
    edges — partial agg + AQE skew-split absorb the hot key); the
    megatree multiplier is round COUNT (O(log n) convergence), not
    skew.  No salting needed; this test keeps the shapes exercised."""
    M, REST = 4000, 6000
    mega_star = [(i, 0) for i in range(1, M)]
    rng_parent = lambda i: hash((i, "cc")) % i  # noqa: E731
    mega_tree = [(i, rng_parent(i)) for i in range(1, M)]
    rest = [
        (i, M + ((i - M) // 5) * 5)
        for i in range(M, M + REST) if (i - M) % 5 != 0
    ]
    for mega in (mega_star, mega_tree):
        df = spark.createDataFrame(mega + rest, "id_a long, id_b long")
        got = {r["node"]: r["root"]
               for r in dedup.connected_components(df).collect()}
        assert len(got) == M + REST
        assert all(got[i] == 0 for i in range(M))
        assert all(
            got[i] == M + ((i - M) // 5) * 5
            for i in range(M, M + REST)
        )


def test_connected_components_bounded_checkpoint_storage(spark):
    """Round 13: CC releases each round's localCheckpoint blocks once
    the next round materializes — a long-converging graph (path-128,
    many alternation rounds) must leave at most TWO retained edge
    frames (input + final), not O(rounds).  Unreleased rounds OOM'd
    the 100M-edge skew rehearsal."""
    sc = spark.sparkContext
    before = len(sc._jsc.getPersistentRDDs())
    edges = [(i, i + 1) for i in range(127)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["node"]: r["root"]
           for r in dedup.connected_components(df).collect()}
    assert got == {i: 0 for i in range(128)}
    after = len(sc._jsc.getPersistentRDDs())
    assert after - before <= 2, (
        f"CC retained {after - before} checkpointed frames; "
        "expected input + final round only"
    )


def test_duplicate_clusters_match_pair_graph(docs):
    """duplicate_clusters rows are EXACTLY the connected components of
    the verified minhash pair graph: min-id labels, correct sizes, and
    only docs that occur in ≥1 pair."""
    edges = [
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(docs, 0.5).collect()
    ]
    assert edges, "fixture should contain planted near-duplicates"
    want = _uf_min_labels(edges)
    rows = dedup.duplicate_clusters(docs, 0.5).collect()
    got = {r.doc_id: r.cluster_id for r in rows}
    assert got == want
    from collections import Counter

    sizes = Counter(want.values())
    for r in rows:
        assert r.cluster_size == sizes[r.cluster_id]


# ---------------------------------------------------------------------------
# similarity
# ---------------------------------------------------------------------------

def test_blocked_near_dup_equals_plain_exact(emb):
    """The blocked-GEMM operator is EXACT: identical pair set and
    cosines (to 1e-9) as the all-pairs join, at a low threshold and
    across several block counts (incl. single-tile and hash-unbalanced
    cases)."""
    want = {
        (r.id_a, r.id_b): r.cosine
        for r in dedup.embedding_near_dup(emb, 0.3).collect()
    }
    assert want
    for nb in (1, 3, 7):
        got = {
            (r.id_a, r.id_b): r.cosine
            for r in dedup.embedding_near_dup_blocked(
                emb, 0.3, n_blocks=nb
            ).collect()
        }
        assert got.keys() == want.keys(), f"n_blocks={nb}"
        assert all(
            abs(got[k] - want[k]) < 1e-9 for k in want
        ), f"n_blocks={nb}"


def test_near_dup_lsh_equals_exact_on_near_corpus(emb, spark):
    """On a corpus whose duplicates are actually near (cosine ≥ 0.9),
    the LSH-routed path must equal the exact operator (banding miss
    probability ~3e-2 per pair at 0.9, ~1e-4 at 0.95; the planted
    pairs here are ≥0.98 → expected misses ≪ 1)."""
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.randn(60, 32)
    rows = [(i, base[i].tolist()) for i in range(60)]
    # plant 12 near-dups: tiny perturbations of the first 12 vectors
    for i in range(12):
        v = base[i] + 0.05 * rng.randn(32)
        rows.append((1000 + i, v.tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    want = {
        (r.id_a, r.id_b, round(r.cosine, 6))
        for r in dedup.embedding_near_dup_blocked(
            df, 0.9, n_blocks=2
        ).collect()
    }
    got = {
        (r.id_a, r.id_b, round(r.cosine, 6))
        for r in similarity.near_dup_lsh(df, 0.9).collect()
    }
    assert len(want) >= 12
    assert got == want


def test_embedding_near_dup_routing(emb):
    """The scale router (VERDICT r6 #2): small corpora and sub-recall-
    floor thresholds stay on the exact tile product; a corpus beyond
    EXACT_MAX_DOCS with a high threshold defaults to LSH — its plan
    must contain NO tile self-product (no applyInPandas GEMM stage)."""
    def plan(df):
        return df._jdf.queryExecution().analyzed().toString()

    gemm = "FlatMapGroupsInPandas"  # the GEMM tile stage's plan node
    # small corpus → exact, regardless of threshold
    assert gemm in plan(dedup.embedding_near_dup_pairs(emb, 0.9))
    # huge corpus + high threshold → LSH: no tile product anywhere
    big = dedup.embedding_near_dup_pairs(
        emb, 0.9, corpus_count=10**9
    )
    assert gemm not in plan(big)
    # huge corpus + low threshold → exactness requires GEMM; stays
    # exact (loud log) rather than silently dropping recall
    assert gemm in plan(
        dedup.embedding_near_dup_pairs(emb, 0.4, corpus_count=10**9)
    )
    # explicit opt-ins pin the tier
    assert gemm in plan(
        dedup.embedding_near_dup_pairs(emb, 0.9, exact=True)
    )
    assert gemm not in plan(
        dedup.embedding_near_dup_pairs(emb, 0.4, exact=False)
    )


def test_lsh_topk_recall(emb):
    """RP-LSH top-k must recover most of the exact top-k (recall@10).

    The contract is 'good ANN', not exactness (the exact path is
    x_sim_topk); measured recall at these params is ~0.68 on the
    weakly-structured fixture embeddings."""
    qs = [0, 1, 2, 3]
    exact = similarity.cosine_topk(emb, qs, 10).collect()
    approx = similarity.rp_lsh_topk(emb, qs, 10).collect()
    ex = {(r.qid, r.vid) for r in exact}
    ap = {(r.qid, r.vid) for r in approx}
    recall = len(ex & ap) / len(ex)
    assert recall >= 0.5, f"recall@10 = {recall}"


def test_ivf_topk_recall(emb):
    """IVF (adaptive √N cells, cells/4 probes) recall@10 against the
    exact baseline; measured 0.65-0.68 across fixture SFs."""
    qs = [0, 1, 2, 3]
    ex = {(r.qid, r.vid)
          for r in similarity.cosine_topk(emb, qs, 10).collect()}
    iv = {(r.qid, r.vid)
          for r in similarity.ivf_topk(emb, qs, 10).collect()}
    recall = len(ex & iv) / len(ex)
    assert recall >= 0.55, f"recall@10 = {recall}"


def test_ivf_persisted_index_path(emb, tmp_path, spark):
    """The round-10 amortized path: ivf_index built once, persisted
    partitionBy(cell), re-read and handed to ivf_topk(index=…) —
    results must be IDENTICAL to the inline path (same deterministic
    centroids → same assignment → same probes), and the query scan
    must carry the static probe-cell partition filter so a
    cell-partitioned store reads only probed cells."""
    n = emb.count()
    n_cells = max(8, min(4096, int(n ** 0.5)))
    inline = similarity.ivf_topk(emb, [0, 1, 2, 3], 10,
                                 n_cells=n_cells).collect()
    idx, cents = similarity.ivf_index(emb, n_cells=n_cells)
    dest = str(tmp_path / "ivfidx")
    idx.write.partitionBy("cell").mode("overwrite").parquet(dest)
    stored = spark.read.parquet(dest)
    via_index = similarity.ivf_topk(
        emb, [0, 1, 2, 3], 10, index=stored, centroids=cents
    )
    assert sorted((r.qid, r.vid, r.rank) for r in inline) == \
        sorted((r.qid, r.vid, r.rank) for r in via_index.collect())
    plan = via_index._jdf.queryExecution().executedPlan().toString()
    assert "cell#" in plan and "PartitionFilters: [" in plan, plan[:800]
    # the probe filter must actually reach PartitionFilters (not just
    # a post-scan Filter): the pruned scan is the scale contract
    import re as _re

    pf = _re.search(r"PartitionFilters: \[[^\]]*cell", plan)
    assert pf is not None, plan[:1500]
    with pytest.raises(ValueError):
        similarity.ivf_topk(emb, [0], 5, index=stored)  # no centroids


def test_ivf_index_bundle_scan_free(emb, tmp_path, spark):
    """Round 11 (VERDICT r10 #2): the amortized path must not scan the
    corpus to fetch query vectors.

    - write_ivf_index/read_ivf_index round-trip an IVFIndex bundle;
    - query_ids through the bundle fetch via the vid-sorted sidecar,
      whose scan carries a pushed vid IN filter (row-group pruning);
    - query_vectors= skips the fetch entirely (and works with
      emb=None), matching the in-corpus results for the same vectors.
    """
    n = emb.count()
    n_cells = max(8, min(4096, int(n ** 0.5)))
    inline = similarity.ivf_topk(emb, [0, 1, 2, 3], 10,
                                 n_cells=n_cells).collect()
    idx, cents = similarity.ivf_index(emb, n_cells=n_cells)
    dest = str(tmp_path / "bundle")
    similarity.write_ivf_index(idx, cents, dest)
    bundle = similarity.read_ivf_index(spark, dest)

    # (a) query_ids via the sidecar: identical results
    via = similarity.ivf_topk(emb, [0, 1, 2, 3], 10, index=bundle)
    assert sorted((r.qid, r.vid, r.rank) for r in inline) == \
        sorted((r.qid, r.vid, r.rank) for r in via.collect())

    # (b) the sidecar lookup plan pushes the vid IN filter into the
    # parquet scan (min/max row-group pruning on the vid-sorted store)
    fetch = bundle.vids.filter(F.col("vid").isin([0, 1, 2, 3]))
    fplan = fetch._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [In(vid" in fplan, fplan[:800]

    # (c) caller-supplied query vectors: zero fetch jobs, emb unused.
    # qids are LABELS — no self-exclusion (code-review r11 fix: a
    # corpus vid colliding with a label must not be dropped), so
    # feeding corpus vectors back ranks each vector's own copy first
    # (cosine 1.0) and the tail must equal the in-corpus top-k
    raw = {
        int(r.vec_id): list(r.embedding)
        for r in emb.filter(F.col("vec_id").isin([0, 1, 2, 3]))
        .collect()
    }
    via_vecs = similarity.ivf_topk(
        None, None, 11, index=bundle, query_vectors=raw
    ).collect()
    firsts = {r.qid: r for r in via_vecs if r.rank == 1}
    assert set(firsts) == {0, 1, 2, 3}
    assert all(r.vid == q and r.cosine > 0.999999
               for q, r in firsts.items())
    tail = sorted((r.qid, r.vid, r.rank - 1) for r in via_vecs
                  if r.rank > 1)
    assert sorted((r.qid, r.vid, r.rank) for r in inline) == tail


def test_ivf_append_incremental(emb, tmp_path, spark):
    """VERDICT r11 #3: ivf_append extends a persisted bundle by
    assigning ONLY the new batch to the existing centroids.

    - the append issues no corpus/index scan (job-count bounded);
    - the appended bundle answers queries IDENTICALLY to a bundle
      built by assigning the full corpus to the same centroids;
    - recall contract stays green after the append;
    - the retrain recommendation fires on distribution drift."""
    base = emb.filter(F.col("vec_id") % 5 != 0)
    newb = emb.filter(F.col("vec_id") % 5 == 0)
    n = base.count()
    n_new = newb.count()
    n_cells = max(8, min(4096, int(n ** 0.5)))
    idx, cents = similarity.ivf_index(base, n_cells=n_cells)
    dest = str(tmp_path / "bundle")
    meta = similarity.write_ivf_index(idx, cents, dest)
    assert meta["base_n"] == n and meta["base_mean_fit"] > 0

    # scan-free proof: corrupt every stored parquet part file in a
    # COPY of the bundle — if ivf_append ever reads the stored index
    # (instead of only the new batch) it fails loudly on parse
    import os
    import shutil

    poisoned = str(tmp_path / "poisoned")
    shutil.copytree(dest, poisoned)
    for sub in ("cells", "vids"):
        for root, _dirs, files in os.walk(
            os.path.join(poisoned, sub)
        ):
            for fn in files:
                if fn.endswith(".parquet"):
                    with open(os.path.join(root, fn), "wb") as f:
                        f.write(b"not parquet")
    rep_p = similarity.ivf_append(poisoned, newb)
    assert rep_p["appended"] == n_new  # succeeded ⇒ index not read

    rep = similarity.ivf_append(dest, newb)
    assert rep["appended"] == n_new
    assert rep["growth"] == pytest.approx(n_new / n)
    # NOTE: no retrain-flag assertion here — on a 400-vector corpus
    # the held-out batch shows the train-sample generalization gap
    # (~0.13 cosine), which IS drift as the metric defines it

    # equivalence: full corpus assigned to the SAME centroids
    full_idx = similarity._assign_cells(normalized_vectors(emb), cents)
    dest2 = str(tmp_path / "full")
    similarity.write_ivf_index(full_idx, cents, dest2)
    b1 = similarity.read_ivf_index(spark, dest)
    b2 = similarity.read_ivf_index(spark, dest2)
    qs = [0, 1, 2, 3]
    r1 = sorted((r.qid, r.vid, r.rank) for r in
                similarity.ivf_topk(None, qs, 10, index=b1).collect())
    r2 = sorted((r.qid, r.vid, r.rank) for r in
                similarity.ivf_topk(None, qs, 10, index=b2).collect())
    assert r1 == r2

    # recall contract after the append (x_sim_ivf's contract shape)
    ex = {(r.qid, r.vid)
          for r in similarity.cosine_topk(emb, qs, 10).collect()}
    ap = {(r.qid, r.vid) for r in
          similarity.ivf_topk(None, qs, 10, index=b1).collect()}
    assert len(ex & ap) / len(ex) >= 0.5

    # retrain recommendation, both directions, on a FULL-corpus
    # bundle (no train/held-out gap): re-appending in-distribution
    # copies (same vectors, fresh vids) shows ~zero fit drop — no
    # flag; a negated batch fits the centroids badly — flag fires
    full_n = emb.count()
    fidx, fcents = similarity.ivf_index(emb)
    dest3 = str(tmp_path / "full_growing")
    similarity.write_ivf_index(fidx, fcents, dest3)
    copies = emb.limit(100).withColumn(
        "vec_id", F.col("vec_id") + 100000
    )
    rep_ok = similarity.ivf_append(dest3, copies)
    assert rep_ok["fit_drop"] < similarity.IVF_RETRAIN_FIT_DROP
    assert rep_ok["retrain_recommended"] is False
    shifted = copies.withColumn(
        "embedding", F.transform("embedding", lambda x: -x)
    )
    rep_bad = similarity.ivf_append(dest3, shifted)
    assert rep_bad["fit_drop"] > similarity.IVF_RETRAIN_FIT_DROP
    assert rep_bad["retrain_recommended"] is True
    # growth alone also triggers: append past IVF_RETRAIN_GROWTH×base
    big = emb.withColumn("vec_id", F.col("vec_id") + 200000)
    rep_big = similarity.ivf_append(dest3, big)
    assert rep_big["growth"] > similarity.IVF_RETRAIN_GROWTH
    assert rep_big["retrain_recommended"] is True


def test_ivf_compact_folds_generations(emb, tmp_path, spark):
    """ivf_compact rewrites the bundle under the existing centroids:
    query results identical, the vid sidecar folds back to one
    sorted generation, meta absorbs the appended rows."""
    import os

    base = emb.filter(F.col("vec_id") % 5 != 0)
    newb = emb.filter(F.col("vec_id") % 5 == 0)
    n, n_new = base.count(), newb.count()
    n_cells = max(8, min(4096, int(n ** 0.5)))
    idx, cents = similarity.ivf_index(base, n_cells=n_cells)
    dest = str(tmp_path / "b")
    similarity.write_ivf_index(idx, cents, dest)
    similarity.ivf_append(dest, newb)

    before = similarity.read_ivf_index(spark, dest)
    qs = [0, 1, 2, 3]
    r_before = sorted(
        (r.qid, r.vid, r.rank) for r in
        similarity.ivf_topk(None, qs, 10, index=before).collect()
    )
    def vids_files():
        # resolve the CURRENT generation's sidecar dir (gen-versioned
        # bundles since round 13)
        gen = similarity._load_meta(dest)["gen"]
        vdir = similarity._bundle_paths(dest, gen)[1]
        return len([f for f in os.listdir(vdir)
                    if f.endswith(".parquet")])

    files_before = vids_files()

    # a handle opened BEFORE the rewrite must keep working for one
    # grace cycle (the previous generation is GC'd by the NEXT
    # rewrite, not the commit)
    stale_handle = similarity.read_ivf_index(spark, dest)

    meta = similarity.ivf_compact(spark, dest)
    assert meta["base_n"] == n + n_new
    assert meta["appended_n"] == 0
    assert meta["gen"] == 1  # rewrite published as a new generation
    # grace period: generation 0 outlives its replacement by one
    # rewrite cycle, so the pre-rewrite handle still answers
    assert os.path.exists(os.path.join(dest, "cells"))
    r_stale = sorted(
        (r.qid, r.vid, r.rank) for r in
        similarity.ivf_topk(None, qs, 10, index=stale_handle).collect()
    )
    assert r_stale == r_before
    # …and the NEXT rewrite GCs it
    meta2 = similarity.ivf_compact(spark, dest)
    assert meta2["gen"] == 2
    assert not os.path.exists(os.path.join(dest, "cells"))
    after = similarity.read_ivf_index(spark, dest)
    r_after = sorted(
        (r.qid, r.vid, r.rank) for r in
        similarity.ivf_topk(None, qs, 10, index=after).collect()
    )
    assert r_after == r_before
    assert vids_files() <= files_before  # generations folded


def test_ivf_compact_crash_safe(emb, tmp_path, spark, monkeypatch):
    """ADVICE r12 (medium): a crash at ANY point inside ivf_compact
    must leave the previous bundle generation fully live — the rewrite
    lands in sibling -v<N> dirs and publishes only via the atomic meta
    gen-pointer swap.  Simulated by failing the meta commit itself
    (the last possible moment before publication)."""
    base = emb.filter(F.col("vec_id") % 5 != 0)
    newb = emb.filter(F.col("vec_id") % 5 == 0)
    idx, cents = similarity.ivf_index(base)
    dest = str(tmp_path / "b")
    similarity.write_ivf_index(idx, cents, dest)
    similarity.ivf_append(dest, newb)
    qs = [0, 1, 2, 3]
    r_before = sorted(
        (r.qid, r.vid, r.rank) for r in
        similarity.ivf_topk(
            None, qs, 10,
            index=similarity.read_ivf_index(spark, dest)).collect()
    )

    real_write_meta = similarity._write_meta

    def _boom(path, meta):
        raise RuntimeError("simulated driver crash mid-compact")

    monkeypatch.setattr(similarity, "_write_meta", _boom)
    with pytest.raises(RuntimeError, match="simulated"):
        similarity.ivf_compact(spark, dest)
    monkeypatch.setattr(similarity, "_write_meta", real_write_meta)

    # the bundle is NOT destroyed: gen pointer still 0, old stores
    # intact, identical query results — no recovery needed
    meta = similarity._load_meta(dest)
    assert meta["gen"] == 0
    r_crashed = sorted(
        (r.qid, r.vid, r.rank) for r in
        similarity.ivf_topk(
            None, qs, 10,
            index=similarity.read_ivf_index(spark, dest)).collect()
    )
    assert r_crashed == r_before

    # simply re-running the compact succeeds and sweeps the orphan
    # partial generation left by the crash (gen 0 is spared one
    # rewrite cycle as the lazy-reader grace generation)
    meta2 = similarity.ivf_compact(spark, dest)
    assert meta2["gen"] == 1
    import os
    leftovers = [n for n in os.listdir(dest)
                 if n.startswith(("cells", "vids"))]
    assert sorted(leftovers) == ["cells", "cells-v1",
                                 "vids", "vids-v1"]
    r_after = sorted(
        (r.qid, r.vid, r.rank) for r in
        similarity.ivf_topk(
            None, qs, 10,
            index=similarity.read_ivf_index(spark, dest)).collect()
    )
    assert r_after == r_before


def test_ivf_maintain_policy(emb, tmp_path, spark):
    """VERDICT r12 #6: ivf_maintain acts on the accumulated append
    counters — none / compact (growth, fit holds) / retrain (fit
    drop) — metamorphically: compact preserves pinned query results
    exactly; retrain rewrites with fresh √N centroids and resets the
    counters."""
    full_n = emb.count()
    idx, cents = similarity.ivf_index(emb)
    dest = str(tmp_path / "m")
    similarity.write_ivf_index(idx, cents, dest)
    qs = [0, 1, 2, 3]

    # fresh bundle: nothing to do, zero Spark jobs needed
    rep = similarity.ivf_maintain(spark, dest)
    assert rep["action"] == "none"

    # growth without drift (re-appended in-distribution copies, per
    # the r12 drift-metric note) → compact; results identical
    copies = emb.withColumn("vec_id", F.col("vec_id") + 100000)
    similarity.ivf_append(dest, copies)
    similarity.ivf_append(
        dest, emb.withColumn("vec_id", F.col("vec_id") + 200000))
    r_before = sorted(
        (r.qid, r.vid, r.rank) for r in
        similarity.ivf_topk(
            None, qs, 10,
            index=similarity.read_ivf_index(spark, dest)).collect()
    )
    rep = similarity.ivf_maintain(spark, dest)
    assert rep["action"] == "compact"
    assert rep["growth"] > similarity.IVF_RETRAIN_GROWTH
    assert rep["meta"]["gen"] == 1
    assert rep["meta"]["base_n"] == 3 * full_n
    assert rep["meta"]["appended_n"] == 0
    r_after = sorted(
        (r.qid, r.vid, r.rank) for r in
        similarity.ivf_topk(
            None, qs, 10,
            index=similarity.read_ivf_index(spark, dest)).collect()
    )
    assert r_after == r_before  # same centroids ⇒ same answers
    # counters folded: immediately maintaining again is a no-op
    assert similarity.ivf_maintain(spark, dest)["action"] == "none"

    # distribution drift (negated batch) → retrain from the STORE
    shifted = (
        emb.limit(200)
        .withColumn("vec_id", F.col("vec_id") + 300000)
        .withColumn("embedding",
                    F.transform("embedding", lambda x: -x))
    )
    similarity.ivf_append(dest, shifted)
    rep = similarity.ivf_maintain(spark, dest)
    assert rep["action"] == "retrain"
    assert rep["fit_drop"] > similarity.IVF_RETRAIN_FIT_DROP
    m = rep["meta"]
    assert m["gen"] == 2
    assert m["base_n"] == 3 * full_n + 200
    assert m["appended_n"] == 0 and m["appended_fit_n"] == 0
    # fresh √N-sized codebook trained from the stored vectors
    after = similarity.read_ivf_index(spark, dest)
    assert len(after.centroids) == max(
        8, min(4096, int(m["base_n"] ** 0.5)))
    # the retrained bundle still answers pinned queries at full k,
    # deterministically
    out1 = sorted(
        (r.qid, r.vid, r.rank) for r in
        similarity.ivf_topk(None, qs, 10, index=after).collect())
    out2 = sorted(
        (r.qid, r.vid, r.rank) for r in
        similarity.ivf_topk(None, qs, 10, index=after).collect())
    assert out1 == out2
    assert len(out1) == 10 * len(qs)


def test_ivf_inline_query_vectors(emb):
    """ADVICE r11: ivf_topk(query_vectors=…) on the INLINE path
    (index=None) must honor the supplied vectors — previously they
    were silently ignored (qrows still fetched via query_ids, crashing
    when query_ids is None) while self-exclusion was already skipped.
    Same label semantics as the amortized path: each corpus vector fed
    back as a query ranks its own copy first, tail equals the
    in-corpus top-k."""
    n = emb.count()
    n_cells = max(8, min(4096, int(n ** 0.5)))
    inline = similarity.ivf_topk(emb, [0, 1], 10,
                                 n_cells=n_cells).collect()
    raw = {
        int(r.vec_id): list(r.embedding)
        for r in emb.filter(F.col("vec_id").isin([0, 1])).collect()
    }
    via_vecs = similarity.ivf_topk(
        emb, None, 11, n_cells=n_cells, query_vectors=raw
    ).collect()
    firsts = {r.qid: r for r in via_vecs if r.rank == 1}
    assert set(firsts) == {0, 1}
    assert all(r.vid == q and r.cosine > 0.999999
               for q, r in firsts.items())
    tail = sorted((r.qid, r.vid, r.rank - 1) for r in via_vecs
                  if r.rank > 1)
    assert sorted((r.qid, r.vid, r.rank) for r in inline) == tail


def test_lsh_candidates_much_smaller_than_corpus(emb):
    n = emb.count()
    cand = similarity.rp_lsh_candidates(emb, [0, 1]).count()
    assert cand < 2 * n, "LSH should prune, not enumerate, the corpus"


def test_topk_is_sorted_and_bounded(emb):
    rows = similarity.cosine_topk(emb, [0], 5).collect()
    assert [r.rank for r in rows] == [1, 2, 3, 4, 5]
    sims = [r.cosine for r in rows]
    assert sims == sorted(sims, reverse=True)


# ---------------------------------------------------------------------------
# text
# ---------------------------------------------------------------------------

def test_quality_features_ranges(docs):
    rows = text.quality_features(docs).collect()
    for r in rows:
        assert 0 <= r.stopword_ratio <= 1
        assert 0 <= r.distinct_ratio <= 1
        assert 0 <= r.quality <= 1
        assert r.n_tokens > 0 and r.n_bpe_tokens >= r.n_tokens


def test_lang_id_deterministic(docs):
    a = {(r.doc_id, r.pred_lang) for r in docs.select(
        "doc_id", text.lang_id()[0].alias("pred_lang")).collect()}
    b = {(r.doc_id, r.pred_lang) for r in docs.select(
        "doc_id", text.lang_id()[0].alias("pred_lang")).collect()}
    assert a == b
    assert {l for _, l in a} <= set(text.LANG_STOPWORDS) | {"und", "zh"}


def test_lang_id_real_text(spark):
    """VERDICT r12 #7: the deepened langid (stopwords + char trigrams
    + diacritic classes + CJK short-circuit, one JVM scan) separates
    GENUINE en/es/fr/de/zh prose — something the fixture corpus
    (random labels over English word soup) cannot exercise.  The old
    stopword-only model was structurally blind to zh (space-tokenized
    stopwords never fire) and to diacritic evidence."""
    samples = [
        # en
        ("The weather forecast said it would rain throughout the "
         "morning and clear up in the afternoon.", "en"),
        ("She is reading an interesting book about the history of "
         "science and technology.", "en"),
        ("Most of the engineers were working on improving the "
         "distributed system.", "en"),
        # es
        ("La biblioteca de la universidad tiene una colección de "
         "manuscritos antiguos que los estudiantes pueden consultar.",
         "es"),
        ("El año pasado viajamos a la montaña y disfrutamos de una "
         "vista espectacular desde la cima.", "es"),
        ("Los resultados de la investigación fueron publicados en "
         "una revista científica de gran prestigio.", "es"),
        # fr
        ("Le musée du Louvre est l'un des plus grands musées du "
         "monde et les visiteurs viennent de partout.", "fr"),
        ("Les étudiants préparent leurs examens à la bibliothèque "
         "pendant que les professeurs corrigent les copies.", "fr"),
        ("Il faut que nous arrivions à la gare avant le départ du "
         "train de nuit.", "fr"),
        # de
        ("Der schnelle braune Fuchs springt über den faulen Hund und "
         "läuft durch den Wald.", "de"),
        ("Die Wissenschaftler untersuchen ein neues Verfahren zur "
         "Verbesserung der Energieeffizienz.", "de"),
        ("Ich möchte ein Glas Wasser und ein Stück Kuchen, bitte "
         "schön.", "de"),
        # zh
        ("今天天气很好，我们决定去公园散步，看到了很多美丽的花。", "zh"),
        ("这本书讲述了中国古代历史上的重要事件和人物。", "zh"),
        ("科学家们正在研究一种新的方法来提高计算机的性能。", "zh"),
        # ja (round 14 — kana ratio must claim these BEFORE the Han
        # short-circuit: every sentence is kanji-heavy like real prose)
        ("今日は天気がとても良いので、公園へ散歩に行きました。", "ja"),
        ("この本は日本の歴史についてわかりやすく書かれています。", "ja"),
        ("科学者たちはコンピュータの性能を高める新しい方法を研究しています。",
         "ja"),
        # ru (round 14 — Cyrillic script ratio)
        ("Сегодня хорошая погода, и мы решили пойти гулять в парк.",
         "ru"),
        ("Эта книга рассказывает о важных событиях русской истории.",
         "ru"),
        ("Учёные исследуют новый метод повышения производительности "
         "компьютеров.", "ru"),
    ]
    df = spark.createDataFrame(
        [(i, t, want) for i, (t, want) in enumerate(samples)],
        "doc_id long, text string, want string",
    )
    lang, score = text.lang_id()
    got = df.select("doc_id", "want", lang.alias("pred"),
                    score.alias("score")).collect()
    acc = sum(r["pred"] == r["want"] for r in got) / len(got)
    assert acc >= 0.9, [(r["want"], r["pred"]) for r in got]
    assert all(r["score"] > 0 for r in got)

    # the zh rows are exactly what the stopword-only model missed:
    # their stopword ratios are all zero
    zh = df.filter(F.col("want") == "zh")
    stop_only = zh.select(
        *[v.alias(k) for k, v in
          {lg: text._ratio_in(text.tokens("text"), sw)
           for lg, sw in text.LANG_STOPWORDS.items()}.items()]
    ).collect()
    assert all(
        r[lg] == 0.0 for r in stop_only for lg in text.LANG_STOPWORDS
    )

    # review r13: NULL text is well-defined — 'und'/0.0, not NULL
    # labels (every signal would otherwise be NULL and slip through
    # the argmax); both the Column and frame forms
    null_df = spark.createDataFrame(
        [(99, None)], "doc_id long, text string")
    nl, ns = text.lang_id()
    r = null_df.select(nl.alias("l"), ns.alias("s")).first()
    assert (r["l"], r["s"]) == ("und", 0.0)
    r = text.add_lang_id(null_df).select("pred_lang", "score").first()
    assert (r["pred_lang"], r["score"]) == ("und", 0.0)

    # frame-level entry point ≡ column-level form…
    via_frame = {(r["doc_id"], r["pred_lang"]) for r in
                 text.add_lang_id(df).select(
                     "doc_id", "pred_lang").collect()}
    assert via_frame == {(r["doc_id"], r["pred"]) for r in got}
    # …and its optimized plan keeps the two-projection split: the
    # score array is computed ONCE (one 'array(' for the staged
    # column), not re-inlined per reference (CollapseProject must
    # not duplicate the non-cheap alias — the 5× regression guard)
    plan = (text.add_lang_id(df).select("doc_id", "pred_lang", "score")
            ._jdf.queryExecution().optimizedPlan().toString())
    assert plan.count("lambdafunction") == len(text.LANG_STOPWORDS), (
        "score expressions re-inlined; expected one stopword filter "
        "per language, computed once"
    )


def test_fingerprint_shift_invariance(spark):
    """The rolling fingerprint (min shingle hash) survives edits at
    the margins; the full-text md5 does not."""
    base = "alpha beta gamma delta epsilon zeta eta theta"
    df = spark.createDataFrame(
        [(1, base), (2, "PREFIX " + base)], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in text.fingerprints(df).collect()}
    assert rows[1].text_md5 != rows[2].text_md5
    assert rows[1].rolling_fp == rows[2].rolling_fp


# ---------------------------------------------------------------------------
# multimodal
# ---------------------------------------------------------------------------

def test_media_feature_plumbing(docs):
    media = multimodal.documents_as_media(docs)
    feats = multimodal.extract_features(media)
    joined = (
        media.select("media_id", F.col("meta.n_bytes").alias("mb"))
        .join(feats, "media_id")
        .collect()
    )
    assert joined
    for r in joined:
        assert r.n_bytes == r.mb
        assert len(r.features) == 4
        assert r.features[0] == float(r.n_bytes)


def test_ppm_codec_roundtrip_and_grammar():
    """Real P6 parsing: roundtrip, comments in the header, and
    malformed inputs rejected."""
    import numpy as np

    px = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    w, h, out = multimodal.decode_ppm(multimodal.encode_ppm(px))
    assert (w, h) == (3, 2) and (out == px).all()
    # header comments are legal netpbm
    with_comment = b"P6\n# a comment\n3 2\n255\n" + px.tobytes()
    assert (multimodal.decode_ppm(with_comment)[2] == px).all()
    with pytest.raises(ValueError):
        multimodal.decode_ppm(b"P5\n1 1\n255\n\x00")
    with pytest.raises(ValueError):
        multimodal.decode_ppm(b"P6\n2 2\n255\n\x00\x00")  # truncated


def test_ppm_resize_preserves_global_mean():
    import numpy as np

    rng = np.random.RandomState(3)
    px = rng.randint(0, 256, (8, 8, 3)).astype(np.uint8)
    small = multimodal.resize_ppm(px, 2)
    assert small.shape == (4, 4, 3)
    assert abs(small.mean() - px.astype(float).mean()) < 1e-9


def test_wav_codec_roundtrip_and_chunk_walk():
    import numpy as np

    samples = (np.arange(64, dtype=np.int16) - 32) * 512
    data = multimodal.encode_wav(samples, rate=16000)
    rate, ch, out = multimodal.decode_wav(data)
    assert rate == 16000 and ch == 1 and (out == samples).all()
    # an unknown chunk between fmt and data must be skipped
    fmt_end = 12 + 8 + 16
    padded = (data[:fmt_end] + b"LIST\x04\x00\x00\x00abcd"
              + data[fmt_end:])
    assert (multimodal.decode_wav(padded)[2] == samples).all()
    with pytest.raises(ValueError):
        multimodal.decode_wav(b"RIFX" + data[4:])


def test_decode_stubs_raise():
    with pytest.raises(NotImplementedError):
        multimodal.sample_frames(b"xxxx")
    try:
        import PIL  # noqa: F401
    except ImportError:
        # non-PNG/PPM formats still need an imaging library
        with pytest.raises(NotImplementedError):
            multimodal.decode_image(b"\xff\xd8\xff\xe0jpeg...")


def test_png_codec_roundtrip_filters_and_crc():
    """Real PNG parsing (round 10): zlib IDAT, chunk CRCs, and ALL
    FIVE scanline filters.  The decoder is exercised against a
    test-side FORWARD filter (independent spec implementation): rows
    filtered as Sub/Up/Average/Paeth must unfilter back to the
    original pixels."""
    import struct
    import zlib

    import numpy as np

    rng = np.random.RandomState(10)
    for ch, shape in ((3, (5, 4, 3)), (1, (4, 6)), (4, (3, 3, 4))):
        px = rng.randint(0, 256, shape).astype(np.uint8)
        w, h, out = multimodal.decode_png(multimodal.encode_png(px))
        want = px if px.ndim == 3 else px[:, :, None]
        assert (w, h) == (want.shape[1], want.shape[0])
        assert (out == want).all(), ch

    # forward-filter a raster row-by-row (spec §9, independent impl)
    px = rng.randint(0, 256, (5, 4, 3)).astype(np.uint8)
    ch, stride = 3, 4 * 3
    flat = px.reshape(5, stride).astype(np.int32)
    body = b""
    for y, ftype in enumerate([1, 2, 3, 4, 0]):
        row = flat[y]
        prev = flat[y - 1] if y else np.zeros(stride, np.int32)
        filt = np.zeros(stride, np.int32)
        for x in range(stride):
            a = row[x - ch] if x >= ch else 0
            b = prev[x]
            c = prev[x - ch] if x >= ch else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) >> 1
            else:
                pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
                pred = a if pa <= pb and pa <= pc else (
                    b if pb <= pc else c)
            filt[x] = (row[x] - pred) & 0xFF
        body += bytes([ftype]) + filt.astype(np.uint8).tobytes()

    def chunk(cid, data):
        return (struct.pack(">I", len(data)) + cid + data
                + struct.pack(">I", zlib.crc32(cid + data)))

    crafted = (
        multimodal.PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 5, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(body))
        + chunk(b"IEND", b"")
    )
    w, h, out = multimodal.decode_png(crafted)
    assert (out == px).all(), "filtered rows must unfilter exactly"

    # CRC corruption fails loud
    good = multimodal.encode_png(px)
    bad = bytearray(good)
    bad[-5] ^= 0xFF  # inside IEND's CRC
    with pytest.raises(ValueError, match="CRC"):
        multimodal.decode_png(bytes(bad))
    with pytest.raises(ValueError):
        multimodal.decode_png(b"\x89PNX" + good[4:])
    # decode_image sniffs both native formats
    assert multimodal.decode_image(good)[2].shape == (5, 4, 3)
    ppm = multimodal.encode_ppm(px)
    assert (multimodal.decode_image(ppm)[2] == px).all()


def test_png_features_equal_ppm_features(docs):
    """Metamorphic contract: the PNG fixture wraps the SAME raster as
    the PPM fixture, so the full decode→features path must produce
    identical rows through two entirely different containers (zlib
    chunk stream vs netpbm header)."""
    a = {r["media_id"]: r for r in multimodal.extract_image_features(
        multimodal.documents_as_ppm(docs)).collect()}
    b = {r["media_id"]: r for r in multimodal.extract_image_features(
        multimodal.documents_as_png(docs)).collect()}
    assert a.keys() == b.keys() and a
    for k in a:
        assert a[k] == b[k], k


def test_stratified_sample_deterministic_and_capped(spark, sf_dir):
    from mapreduce_spark.extensions import sampling

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    s1 = sampling.stratified_sample(docs, 10, stratum_col="lang")
    s2 = sampling.stratified_sample(docs, 10, stratum_col="lang")
    r1 = sorted((r["doc_id"], r["lang"]) for r in s1.collect())
    assert r1 == sorted((r["doc_id"], r["lang"]) for r in s2.collect())
    sizes = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(
        F.count("*").alias("n")).collect()}
    got = {r["lang"]: r["n"] for r in s1.groupBy("lang").agg(
        F.count("*").alias("n")).collect()}
    assert got == {k: min(10, v) for k, v in sizes.items()}
    # a different salt draws a different (still capped) sample
    s3 = sampling.stratified_sample(docs, 10, stratum_col="lang",
                                    salt="v2")
    assert r1 != sorted((r["doc_id"], r["lang"]) for r in s3.collect())


def test_pack_sequences_stream_invariants(spark, sf_dir):
    """off ∈ [0, budget); within a stratum the (bin, off) coordinates
    reconstruct one gapless concatenated token stream."""
    from mapreduce_spark.extensions import sampling

    budget = 256
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang",
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
    )
    out = sampling.pack_sequences(docs, budget, token_col="n_tok")
    rows = out.collect()
    assert all(0 <= r["off"] < budget for r in rows)
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rs in by_lang.items():
        rs.sort(key=lambda r: r["bin"] * budget + r["off"])
        pos = 0
        for r in rs:
            assert r["bin"] * budget + r["off"] == pos, lang
            pos += r["n_tok"]


def test_pack_sequences_token_count_fn_hook(spark, sf_dir):
    """VERDICT r12 #4: pack_sequences accepts a real-tokenizer hook —
    an Arrow-batched ``Series[str] -> counts`` callable — instead of a
    precomputed count column.

    - a hook that reproduces the whitespace count yields coordinates
      IDENTICAL to the token_col path (the default/oracle row is
      unchanged by construction);
    - a different tokenizer (char-level here, standing in for a real
      BPE) changes bin boundaries, deterministically across runs;
    - the stream invariants hold under any counter;
    - passing both/neither count sources is rejected."""
    import pytest

    from mapreduce_spark.extensions import sampling

    budget = 256
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "text",
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
    )

    def key(df):
        return sorted(
            (r["doc_id"], r["bin"], r["off"]) for r in df.collect()
        )

    via_col = key(sampling.pack_sequences(
        docs, budget, token_col="n_tok"))
    via_fn = key(sampling.pack_sequences(
        docs.drop("n_tok"), budget,
        token_count_fn=lambda s: s.str.split().map(len)))
    assert via_fn == via_col

    # a char-level "tokenizer" moves the boundaries…
    char_fn = lambda s: s.str.len()  # noqa: E731
    via_char = key(sampling.pack_sequences(
        docs.drop("n_tok"), budget, token_count_fn=char_fn))
    assert via_char != via_col
    # …deterministically
    assert via_char == key(sampling.pack_sequences(
        docs.drop("n_tok"), budget, token_count_fn=char_fn))

    # stream invariants under the custom counter: gapless concat
    out = sampling.pack_sequences(
        docs.drop("n_tok"), budget, token_count_fn=char_fn
    ).withColumn("n", F.length("text").cast("long")).collect()
    by_lang = {}
    for r in out:
        assert 0 <= r["off"] < budget
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rs in by_lang.items():
        rs.sort(key=lambda r: r["bin"] * budget + r["off"])
        pos = 0
        for r in rs:
            assert r["bin"] * budget + r["off"] == pos, lang
            pos += r["n"]
    # the internal count column never leaks into the output
    assert "__pack_n_tok" not in [
        f.name for f in sampling.pack_sequences(
            docs.drop("n_tok"), budget, token_count_fn=char_fn
        ).schema.fields
    ]

    with pytest.raises(ValueError, match="exactly one"):
        sampling.pack_sequences(docs, budget)
    with pytest.raises(ValueError, match="exactly one"):
        sampling.pack_sequences(
            docs, budget, token_col="n_tok",
            token_count_fn=char_fn)

    # review r13: a NULL text packs as a zero-length doc through the
    # hook (the NaN count must not crash the int cast)
    with_null = spark.createDataFrame(
        [(1, "en", "alpha beta"), (2, "en", None), (3, "en", "gamma")],
        "doc_id long, lang string, text string",
    )
    rows = {r["doc_id"]: (r["bin"], r["off"]) for r in
            sampling.pack_sequences(
                with_null, 4,
                # .str.len() yields NaN for the null text — the
                # fillna(0) inside the hook stage absorbs it
                token_count_fn=lambda s: s.str.split().str.len()
            ).collect()}
    assert len(rows) == 3
    # replicate the md5 stream order driver-side; the null doc must
    # advance the stream by exactly 0 tokens
    import hashlib as _hl
    n_tok = {1: 2, 2: 0, 3: 1}
    order = sorted(rows, key=lambda d: (
        _hl.md5(f"{d}:".encode()).hexdigest(), d))
    pos, want = 0, {}
    for d in order:
        want[d] = (pos // 4, pos % 4)
        pos += n_tok[d]
    assert rows == want


def test_repetition_features(spark):
    """Gopher-style repetition signals: duplicated-bigram fraction
    and top-token frequency share, with degenerate-length guards."""
    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),          # bigrams: ab,ba,ab,ba,ab → 2/5 distinct
            (2, "w x y z"),              # all unique
            (3, "spam spam spam spam"),  # one token dominates
            (4, "solo"),                 # no bigrams
            (5, ""),                     # empty
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["dup_bigram_ratio"], r["top_token_ratio"])
           for r in text.repetition_features(df).collect()}
    assert got[1] == (round(1 - 2 / 5, 4), round(3 / 6, 4))
    assert got[2] == (0.0, 0.25)
    assert got[3] == (round(1 - 1 / 3, 4), 1.0)
    assert got[4] == (0.0, 1.0)
    assert got[5][0] == 0.0


def test_quality_filter_fit_and_score(spark):
    """Model-based quality filtering (the FineWeb-edu/DCLM pattern):
    MLlib fits the classifier, but the corpus-scale scorer is a pure
    JVM expression over literal coefficients — separable corpora
    separate, and the scoring plan carries no Python and no
    exchange."""
    import random

    rng = random.Random(7)
    vocab = ["the", "a", "and", "of", "to", "in", "is", "science",
             "river", "model", "data", "green", "house", "window",
             "light", "story", "music", "paper"]
    rows = []
    for i in range(120):  # good: long, varied, stopword-bearing
        n = rng.randint(30, 60)
        rows.append((i, " ".join(rng.choice(vocab) for _ in range(n)),
                     1))
    for i in range(120, 240):  # bad: short repetitive spam
        w = rng.choice(["buy", "click", "now"])
        rows.append((i, " ".join([w] * rng.randint(3, 8)), 0))
    rows.append((240, None, 1))  # null text: must not NaN-poison LBFGS
    df = spark.createDataFrame(
        rows, "doc_id long, text string, label long"
    )
    feats = text.quality_features(df).join(
        df.select("doc_id", "label"), "doc_id"
    )
    model = text.fit_quality_filter(feats)
    assert set(model["coef"]) == set(text.QUALITY_MODEL_FEATURES)
    import math

    assert math.isfinite(model["intercept"]) and all(
        math.isfinite(w) for w in model["coef"].values()
    ), f"null feature row poisoned the fit: {model}"
    df = df.filter(F.col("text").isNotNull())
    scored = text.score_quality(df, model).join(
        df.select("doc_id", "label"), "doc_id"
    )
    acc = scored.agg(F.avg(
        ((F.col("model_score") > 0.5).cast("long")
         == F.col("label")).cast("long")
    )).collect()[0][0]
    assert acc >= 0.95, f"separable corpus not separated: acc={acc}"
    plan = text.score_quality(
        df.select("doc_id", "text"), model
    )._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan


def test_pii_detection_and_redaction(spark):
    """PII scrub (C4/FineWeb-style): category counts see every match
    and reject near-misses; redaction replaces in the documented
    order (email → URL → IP → phone), so an IP inside a URL redacts
    as part of its URL."""
    df = spark.createDataFrame(
        [
            (1, "write to john.doe+x@sub.example.co.uk today"),
            (2, "bad 256.1.1.1 edge 999.9.9.9 glued1.2.3.4x "
                "good 10.0.255.199"),
            (3, "call (555) 123-4567 or 555.123.4567 not "
                "1555-123-45678"),
            (4, "see http://10.0.0.1:8080/x and https://a.b/c?q=1"),
            (5, "no pii here at all"),
            (6, "a@b.co c@d.io 1.2.3.4 5.6.7.8 444-555-6666"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in text.pii_features(df).collect()}
    assert (got[1]["n_emails"], got[1]["text_redacted"]) == (
        1, "write to <EMAIL> today")
    # invalid octets and digit-glued candidates must NOT match
    assert got[2]["n_ipv4"] == 1
    assert "<IP>" in got[2]["text_redacted"]
    assert "256.1.1.1" in got[2]["text_redacted"]
    assert got[3]["n_phones"] == 2 and "45678" in got[3]["text_redacted"]
    # pre-redaction counts overlap (the URL-embedded IP counts in
    # both); redaction resolves it to the URL token
    assert (got[4]["n_urls"], got[4]["n_ipv4"]) == (2, 1)
    assert got[4]["text_redacted"] == "see <URL> and <URL>"
    assert got[5]["text_redacted"] == "no pii here at all"
    assert (got[6]["n_emails"], got[6]["n_ipv4"], got[6]["n_phones"]) \
        == (2, 2, 1)


def test_pii_plan_single_scan(docs):
    """The scrub is a pure map: one codegen'd project over a scan
    pruned to (doc_id, text) — no exchange, no Python stage."""
    q = text.pii_features(docs)._jdf.queryExecution()
    plan = q.executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan
    # untouched columns pruned from the parquet read
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_pii_dialect_battery(spark):
    """The oracle contract hinges on Java-regex and RE2 agreeing on
    the four PII patterns — counts AND replacement positions.  Runs
    the adversarial battery through both engines and asserts
    byte-identical results (this is the pin behind the x_text
    contract row's pii columns)."""
    import duckdb

    cases = [
        "write to john.doe+x@sub.example.co.uk today",
        "bad 256.1.1.1 good 10.0.255.199 edge 999.999.999.999 "
        "glued1.2.3.4x",
        "call (555) 123-4567 or 555-123-4567 or 555.123.4567 not "
        "1555-123-45678",
        "see https://ex5.example.com/d/55?q=1 and "
        "http://10.0.0.1:8080/x plain example.com",
        "u5@example.org. trailing dot; a@b.c short tld",
        "ip 10.5.35.55 tel (555) 155-1055",
        "double a@b.co c@d.io 1.2.3.4 5.6.7.8 (111) 222-3333 "
        "444-555-6666",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(cases)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r for r in df.select(
            "doc_id", *text.pii_counts().values(),
            text.redact_pii().alias("red"),
        ).collect()
    }
    con = duckdb.connect()
    counts_sql = ", ".join(
        f"len(regexp_extract_all(t, '{pat}')) AS {name}"
        for name, pat in text.PII_COUNT_COLS
    )
    red = "t"
    for pat, token in text.PII_REDACTIONS:
        red = f"regexp_replace({red}, '{pat}', '{token}', 'g')"
    for i, t in enumerate(cases):
        want = con.execute(
            f"SELECT {counts_sql}, {red} AS red FROM (SELECT ? AS t)",
            [t],
        ).fetchone()
        have = tuple(
            got[i][name] for name, _ in text.PII_COUNT_COLS
        ) + (got[i]["red"],)
        assert have == want, f"dialect mismatch on case {i}: {t!r}"


def test_pii_dialect_fuzz(spark):
    """Seeded random-text fuzz of the Java-regex/RE2 agreement: 300
    strings over a PII-shaped alphabet (digits, '@', dots, dashes,
    parens, 'http', boundary-adjacent glue chars), one Spark pass vs
    one DuckDB pass, counts + redaction compared byte-for-byte.
    SPARK_GRAFT_FUZZ_SEED soaks fresh seeds, like the JS fuzzers."""
    import os
    import random

    import duckdb

    seed = int(os.environ.get("SPARK_GRAFT_FUZZ_SEED", "20260816"))
    rng = random.Random(seed)
    frags = [
        "a", "Z", "9", "25", "256", "0", ".", "-", " ", "@", "(", ")",
        "@b.co", "http://", "https://x.y", "10.0.0.1", "555", "1234",
        "user+x", "%", "_", "/p?q=1", ":8080", "example.com", "\t",
        "tel ", "..", "u@", ".com.", "-4567", "(555) ", "99.99",
    ]
    cases = [
        "".join(rng.choice(frags) for _ in range(rng.randint(1, 24)))
        for _ in range(300)
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(cases)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: tuple(
            r[n] for n, _ in text.PII_COUNT_COLS
        ) + (r["red"],)
        for r in df.select(
            "doc_id", *text.pii_counts().values(),
            text.redact_pii().alias("red"),
        ).collect()
    }
    con = duckdb.connect()
    counts_sql = ", ".join(
        f"len(regexp_extract_all(t, '{pat}')) AS {name}"
        for name, pat in text.PII_COUNT_COLS
    )
    red = "t"
    for pat, token in text.PII_REDACTIONS:
        red = f"regexp_replace({red}, '{pat}', '{token}', 'g')"
    con.execute("CREATE TABLE c (i BIGINT, t VARCHAR)")
    con.executemany("INSERT INTO c VALUES (?, ?)",
                    list(enumerate(cases)))
    for i, *want in con.execute(
        f"SELECT i, {counts_sql}, {red} AS red FROM c ORDER BY i"
    ).fetchall():
        assert got[i] == tuple(want), (
            f"dialect mismatch (seed={seed}) on {cases[i]!r}: "
            f"spark={got[i]} duckdb={tuple(want)}"
        )


def test_jaccard_dedup_routing(docs):
    """The jaccard scale router (round 8, the embedding_near_dup_pairs
    pattern): small corpora and sub-recall-floor thresholds stay on
    the exact prefix-filtered AllPairs join; a corpus beyond
    JACCARD_EXACT_MAX_DOCS with threshold ≥ the banding floor routes
    to MinHash-LSH (its plan carries the band posexplode; the exact
    join's carries the prefix row_number window instead)."""
    def plan(df):
        return df._jdf.queryExecution().analyzed().toString()

    band = "posexplode"   # LSH band-bucket stage
    prefix = "row_number" # AllPairs prefix-rank window
    # small corpus → exact
    p = plan(dedup.jaccard_dedup_pairs(docs, 0.5))
    assert prefix in p and band not in p
    # huge corpus + threshold above the floor → LSH
    p = plan(dedup.jaccard_dedup_pairs(docs, 0.5, corpus_count=10**9))
    assert band in p and prefix not in p
    # huge corpus + threshold below the floor → stays exact (loud)
    p = plan(dedup.jaccard_dedup_pairs(docs, 0.3, corpus_count=10**9))
    assert prefix in p and band not in p
    # explicit opt-ins pin the tier
    assert band in plan(
        dedup.jaccard_dedup_pairs(docs, 0.3, exact=False)
    )
    assert prefix in plan(
        dedup.jaccard_dedup_pairs(docs, 0.9, exact=True)
    )
    # and on the fixture both tiers agree with the exact operator
    want = {
        (r.id_a, r.id_b, round(r.jaccard, 6))
        for r in dedup.jaccard_pairs(docs, 0.5).collect()
    }
    got = {
        (r.id_a, r.id_b, round(r.jaccard, 6))
        for r in dedup.jaccard_dedup_pairs(
            docs, 0.5, corpus_count=10**9
        ).collect()
    }
    assert want and got == want


def test_hash_split_deterministic_partition_invariant(spark, sf_dir):
    """Every row lands in exactly one split; the assignment is a pure
    function of (id, salt) — identical across repartitionings — and
    split sizes track the weights."""
    from mapreduce_spark.extensions import sampling

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = {r["doc_id"]: r["split"]
         for r in sampling.hash_split(docs, w, salt="s").collect()}
    b = {r["doc_id"]: r["split"]
         for r in sampling.hash_split(
             docs.repartition(7), w, salt="s").collect()}
    assert a == b and len(a) == docs.count()
    n = len(a)
    from collections import Counter

    sizes = Counter(a.values())
    # md5 is uniform: each split within ±5 σ of its expectation
    for name, frac in w.items():
        exp = n * frac
        sd = (n * frac * (1 - frac)) ** 0.5
        assert abs(sizes.get(name, 0) - exp) <= 5 * sd + 1, (
            name, sizes)
    # a different salt reassigns; weights still partition the corpus
    c = {r["doc_id"]: r["split"]
         for r in sampling.hash_split(docs, w, salt="t").collect()}
    assert c != a
    # the plan is a single narrow projection: no exchange at all
    plan = sampling.hash_split(docs, w)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan


def test_hash_split_degenerate_and_invalid(spark, sf_dir):
    from mapreduce_spark.extensions import sampling

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    only = sampling.hash_split(docs, {"all": 1.0})
    assert only.filter(F.col("split") != "all").count() == 0
    with pytest.raises(ValueError):
        sampling.hash_split(docs, {"a": -0.5, "b": 1.5})


def test_mixture_plan_and_apply(spark, sf_dir):
    """Integer-exact repeat factors; apply emits ndocs × repeats rows
    with epochs 1..repeats; the plan side of the join is broadcast."""
    from mapreduce_spark.extensions import sampling

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source",
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
    )
    budget, pct = 100_000, {"src0": 40, "src1": 20}
    plan = sampling.mixture_plan(d, pct, budget, token_col="n_tok",
                                 max_repeat=6)
    rows = {r["source"]: (r["src_tokens"], r["repeats"])
            for r in plan.collect()}
    toks = {r["source"]: r["t"] for r in d.groupBy("source").agg(
        F.sum("n_tok").alias("t")).collect()}
    for src, (t, rep) in rows.items():
        assert t == toks[src]
        want = max(1, min(6, (budget * pct.get(src, 0)) // (100 * t)))
        assert rep == want, (src, rep, want)
    assert any(r > 1 for _, r in rows.values())  # weights actually bite
    mixed = sampling.apply_mixture(d, plan)
    got = {r["source"]: r["n"] for r in mixed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    ndocs = {r["source"]: r["n"] for r in d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert got == {s: ndocs[s] * rows[s][1] for s in ndocs}
    ep = mixed.filter(F.col("source") == "src0") \
        .groupBy("epoch").count().collect()
    assert sorted(r["epoch"] for r in ep) == list(
        range(1, rows["src0"][1] + 1))
    plan_str = mixed._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan_str


def test_mixture_plan_integral_division_past_2p53(spark):
    """The docstring's integer-exactness claim, stress-tested past
    2^53 (review-9): budget*pct = 1.1e18 with src_tokens chosen so
    DOUBLE division rounds UP across the integer boundary — float
    truncation gives 3 epochs, exact integer `//` gives 2.  The plan
    must use Spark's integral `div`, matching the DuckDB oracle's `//`
    at any magnitude."""
    from mapreduce_spark.extensions import sampling

    budget, pct, st = 100_000_000_000_000_009, {"big": 11}, \
        3_666_666_666_666_667
    num, den = budget * pct["big"], 100 * st
    assert num // den == 2 and int(float(num) / den) == 3  # premise
    d = spark.createDataFrame(
        [("d0", "big", st), ("d1", "tiny", 7)],
        "doc_id string, source string, n_tok long",
    )
    plan = sampling.mixture_plan(
        d, pct, budget, token_col="n_tok", max_repeat=10
    )
    got = {r["source"]: r["repeats"] for r in plan.collect()}
    assert got["big"] == 2, got  # double division would say 3
    assert got["tiny"] == 1  # pct 0 → floor of 1 epoch


def test_centroid_sample_escalates_on_quantile_undershoot(spark):
    """ADVICE r13: approxQuantile's 0.001 relative error is an absolute
    rank-fraction bound, so on wide corpora the 3n/N threshold can
    undershoot rank n.  The fix retries with a larger fraction instead
    of falling back to the unbounded TakeOrdered _direct() path.
    Simulated by forcing the FIRST sketch call to return an impossible
    threshold: the escalation must land the bit-identical sample the
    unpatched run produces, via a second (real) sketch call."""
    # patch the CLASSIC class — df.stat instantiates it, not the parent
    from pyspark.sql.classic.dataframe import DataFrameStatFunctions


    emb = spark.range(3000).select(
        F.col("id").alias("vec_id"),
        F.array(
            (F.col("id") % 7).cast("double"),
            (F.col("id") % 13).cast("double"),
            F.lit(1.0),
        ).alias("embedding"),
    )
    # >8 partitions so ivf_centroids takes the sketch-prefilter branch
    nd = normalized_vectors(emb).repartition(16)
    want = similarity.ivf_centroids(None, k=4, nd=nd)

    real = DataFrameStatFunctions.approxQuantile
    calls = []

    def undershooting(self, col, probs, err):
        calls.append(probs)
        if len(calls) == 1:
            return [-1.0]  # filter keeps zero rows -> undershoot
        return real(self, col, probs, err)

    DataFrameStatFunctions.approxQuantile = undershooting
    try:
        got = similarity.ivf_centroids(None, k=4, nd=nd)
    finally:
        DataFrameStatFunctions.approxQuantile = real
    assert len(calls) >= 2, "undershoot must escalate, not give up"
    assert got == want


def test_release_local_checkpoint_warns_once_on_internal_drift(spark):
    """ADVICE r13: the private-accessor failure path must be VISIBLE
    (one RuntimeWarning per session), not a silent no-op that regrows
    the O(rounds) checkpoint retention; the happy path stays quiet."""
    import warnings as w

    from mapreduce_spark.extensions import util

    cp = spark.range(10).localCheckpoint()
    with w.catch_warnings():
        w.simplefilter("error")  # any warning -> test failure
        util.release_local_checkpoint(cp)

    util._release_warned = False
    plain = spark.range(10)  # analyzed plan is no LogicalRDD
    try:
        with w.catch_warnings(record=True) as first:
            w.simplefilter("always")
            util.release_local_checkpoint(plain)
        assert [x for x in first if x.category is RuntimeWarning], (
            "accessor failure must warn"
        )
        with w.catch_warnings(record=True) as second:
            w.simplefilter("always")
            util.release_local_checkpoint(plain)
        assert not [x for x in second if x.category is RuntimeWarning], (
            "warning must fire once per session, not per call"
        )
    finally:
        util._release_warned = False
