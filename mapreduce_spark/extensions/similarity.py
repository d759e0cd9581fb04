"""Similarity search over an embedding column (array<float>).

Two paths:

- **brute-force cosine top-k** — the exact baseline: broadcast the
  (small) query set against the corpus, dot products via zip_with /
  aggregate (JVM higher-order functions, no Python), rank with a
  window partitioned by query.  Scales linearly in corpus size; the
  shuffle is only the per-query top-k (TakeOrdered-shaped).
- **random-hyperplane LSH** — the scale path: 16 deterministic
  hyperplanes (md5-seeded, reproducible across runs/engines) give a
  16-bit signature; banded into 2×8 bits for candidate generation,
  candidates reranked exactly.  Recall is property-tested against the
  brute-force baseline rather than oracle-checked (approximate by
  design).

- **IVF (inverted-file)** — the controllable-recall scale path: a
  deterministic mini k-means (fixed-stride seeds + a few distributed
  Lloyd iterations) coarse-quantizes the corpus into cells; queries
  probe their ``nprobe`` nearest cells and rerank exactly.  Candidate
  volume is corpus · nprobe/k regardless of how weak the similarity
  structure is — unlike sign-LSH, whose bucket-collision probability
  collapses when true cosines are modest.

All three rank their scored ``(qid, vid, cosine)`` candidates with one
top-k ranker (``_rank_topk``).  ``near_dup_lsh`` is a pair operator on
the filter-and-refine core the dedup operators share
(``extensions/util.py``: one bucket join, one exact verification).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from typing import NamedTuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mapreduce_spark.extensions.util import (
    bucket_pairs,
    dot_col as _dot,
    normalized_vectors,
    release_local_checkpoint,
    verify_pairs,
)

# 8 bands × 4 bits: band-match prob for cosine s is (1-acos(s)/π)^4,
# ~0.18 at s=0.45 → ≥1-of-8-bands recall ≈ 0.8 even on weakly
# structured corpora, while each band still has 16 buckets to prune.
N_PLANES = 32
LSH_BAND_BITS = 4


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """The top-k ranker over ``(qid, vid, cosine)``: per query, rank by
    cosine descending (ties to the lower vid) and keep ranks ≤ k."""
    w = Window.partitionBy("qid").orderBy(
        F.col("cosine").desc(), F.col("vid")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "vid", "cosine", "rank")
    )


def _sqrt_cells(n: int) -> int:
    """IVF cell count for an n-vector corpus: ≈ √N, clamped to
    [8, 4096]."""
    return max(8, min(4096, int(n ** 0.5)))


def cosine_topk(emb: DataFrame, query_ids: list[int], k: int,
                id_col: str = "vec_id",
                vec_col: str = "embedding",
                nd: DataFrame | None = None) -> DataFrame:
    """Exact top-k neighbors (by cosine) for each query vector.

    The query side is a handful of rows → broadcast-hash join; the
    corpus side streams through codegen'd dot products; the only wide
    step is the per-query rank, bounded by k.

    ``nd``: pre-normalized (ideally persisted) corpus — pass it when
    several pipelines over the same corpus run in one job (e.g. the
    recall-contract queries score an approximate path against this
    exact one) so the normalize+scan work isn't duplicated.
    """
    if nd is None:
        nd = normalized_vectors(emb, id_col, vec_col)
    q = nd.filter(F.col("vid").isin(query_ids)).select(
        F.col("vid").alias("qid"), F.col("nv").alias("qv")
    )
    pairs = nd.join(F.broadcast(q), F.col("vid") != F.col("qid"))
    cos = _dot(F.col("nv"), F.col("qv"))
    return _rank_topk(pairs.select("qid", "vid", cos.alias("cosine")), k)


def _hyperplanes(dim: int, n_planes: int = N_PLANES) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes: component d of plane i
    is uniform in [-0.5, 0.5) derived from md5(f'{i}:{d}') — stable
    across machines, sessions, and engines."""
    planes = []
    for i in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{i}:{d}".encode()).hexdigest()[:8]
            row.append(int(h, 16) / 2**32 - 0.5)
        planes.append(row)
    return planes


def rp_lsh_candidates(emb: DataFrame, query_ids: list[int],
                      id_col: str = "vec_id",
                      vec_col: str = "embedding",
                      n_planes: int = N_PLANES,
                      band_bits: int = LSH_BAND_BITS,
                      nd: DataFrame | None = None) -> DataFrame:
    """Candidate (qid, vid) pairs sharing ≥1 signature band with a
    query.  The join key is (band, band-bits) — uniformly distributed,
    so the self-join never sees the quadratic blowup of all-pairs."""
    if nd is None:
        nd = normalized_vectors(emb, id_col, vec_col)
    # band values via the Arrow-batched sign kernel (_band_values):
    # one numpy sign(M @ Pᵀ) + bit-pack per batch — value-identical to
    # the per-plane column fold (plane i → band i//bits, weight
    # 1<<(i%bits)) but without n_planes interpreted HOF aggregates.
    # Passing the plane COUNT defers hyperplane construction to the
    # first batch, dropping the dim-probe job this path used to pay.
    bands = _band_values(n_planes, band_bits)(F.col("nv"))
    bucketed = nd.select(
        "vid", "nv", F.posexplode(bands).alias("band", "bval")
    )
    q = bucketed.filter(F.col("vid").isin(query_ids)).select(
        F.col("vid").alias("qid"),
        F.col("nv").alias("qv"),
        "band",
        "bval",
    )
    return (
        bucketed.join(F.broadcast(q), ["band", "bval"])
        .filter(F.col("vid") != F.col("qid"))
        .select("qid", "qv", "vid", "nv")
        .distinct()
    )


def rp_lsh_topk(emb: DataFrame, query_ids: list[int], k: int,
                id_col: str = "vec_id",
                vec_col: str = "embedding",
                nd: DataFrame | None = None) -> DataFrame:
    """Approximate top-k: LSH candidates reranked by exact cosine."""
    cand = rp_lsh_candidates(emb, query_ids, id_col, vec_col, nd=nd)
    cos = _dot(F.col("nv"), F.col("qv"))
    return _rank_topk(cand.select("qid", "vid", cos.alias("cosine")), k)


# ---------------------------------------------------------------------------
# LSH-routed near-dup (candidates-then-verify, for high thresholds)
# ---------------------------------------------------------------------------

def _band_values(planes: "np.ndarray | int", band_bits: int):
    """Arrow-batched kernel: nv → array<long> of LSH band values.

    One numpy sign(M @ Pᵀ) per batch, bits packed per band — the
    column-expression equivalent (n_planes × aggregate/zip_with HOFs)
    is CodegenFallback, interpreted per element, and inflates the plan
    quadratically with plane count.

    ``planes`` may be the hyperplane matrix OR a bare plane COUNT: an
    int defers :func:`_hyperplanes` construction to the first Arrow
    batch (dimension read off the batch), which removes the caller's
    driver-side dim-probe job (``emb.select(vec).first()``) — the
    planes are md5-deterministic, so every task builds the identical
    matrix, and the ~n_planes·dim md5s are amortized per task."""
    lazy_n = None
    if isinstance(planes, (int, np.integer)):
        lazy_n = int(planes)
    else:
        planes = np.asarray(planes, dtype=np.float64)
    state: dict = {}

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def bands(vs: pd.Series) -> pd.Series:
        if not len(vs):
            return pd.Series([], dtype=object)
        P = state.get("P")
        if P is None:
            if lazy_n is not None:
                dim = len(vs.iloc[0])
                P = np.asarray(
                    _hyperplanes(dim, lazy_n), dtype=np.float64
                )
            else:
                P = planes
            state["P"] = P
            state["nb"] = P.shape[0] // band_bits
            state["w"] = 1 << np.arange(band_bits, dtype=np.int64)
        M = np.array(vs.tolist(), dtype=np.float64)  # (batch, dim)
        bits = (M @ P.T >= 0).astype(np.int64)  # (batch, n_planes)
        packed = (
            bits.reshape(len(M), state["nb"], band_bits) @ state["w"]
        )
        return pd.Series(list(packed))

    return bands


def near_dup_lsh(emb: DataFrame, threshold: float,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 n_planes: int = 128, band_bits: int = 8) -> DataFrame:
    """Near-dup pairs (cosine ≥ threshold) via random-hyperplane LSH
    banding, verified by exact cosine — the linear-ish scale path
    for corpora whose duplicates are actually near.

    Recall math (why this needs a HIGH threshold): two vectors at
    cosine s agree on one hyperplane sign with p = 1 − acos(s)/π, so a
    pair collides in ≥1 of b bands of r bits with 1 − (1 − pʳ)ᵇ.  At
    the defaults (16 bands × 8 bits): s = 0.95 → miss ≈ 1e-4;
    s = 0.9 → miss ≈ 3e-2; s = 0.4 (p ≈ 0.65) → recall ≈ 0.3 — no
    banding parameters fix that, which is why the exact blocked-GEMM
    operator (``dedup.embedding_near_dup_blocked``) ships for
    low-threshold jobs and this one for true near-dup detection.
    """
    sigs = normalized_vectors(emb, id_col, vec_col).withColumn(
        "bands", _band_values(n_planes, band_bits)(F.col("nv"))
    ).persist()
    cand = bucket_pairs(
        sigs.select("vid", F.posexplode("bands").alias("band", "bkt")),
        id_col="vid",
    )
    return verify_pairs(cand, sigs, "nv", _dot, "cosine", threshold,
                        id_col="vid")


# ---------------------------------------------------------------------------
# IVF: coarse quantizer + nprobe search
# ---------------------------------------------------------------------------

# quantizer-training sample budget per centroid.  Standard IVF
# practice (FAISS trains its coarse quantizer on 39-256 points per
# centroid): the COARSE structure needs a sample, not the corpus.  At
# the 4096-cell cap this bounds the driver collect to ~262k vectors
# (~134 MB at dim 64) — one bounded job, independent of corpus size.
TRAIN_PER_CELL = 64


def ivf_centroids(emb: DataFrame, k: int = 16, iters: int = 2,
                  id_col: str = "vec_id",
                  vec_col: str = "embedding",
                  nd: DataFrame | None = None,
                  corpus_count: int | None = None) -> list[list[float]]:
    """Deterministic mini k-means over a bounded training sample.

    Seeds are the k lowest-id vectors at a fixed stride (unchanged
    across rounds — reproducible in any engine); Lloyd refinement runs
    driver-side with numpy over the first ``k·TRAIN_PER_CELL`` vectors
    in vid order.  ONE Spark job total (the sample collect) — round 6:
    the previous per-iteration assign+mean collect loop issued 2 jobs
    per Lloyd step over the FULL corpus, making this the most
    driver-latency-sensitive operator in the suite for zero recall
    benefit at any scale (the coarse quantizer only needs the sample;
    the full corpus still gets its distributed assignment pass in
    ``ivf_topk``).

    ``nd``: pre-normalized corpus (persisted or not — training now
    reads one bounded ``limit`` from it).

    Driver fan-in bound (round 13, found by the sf100 ANN probe): a
    bare ``orderBy(vid).limit(n).collect()`` plans as TakeOrdered,
    which ships the top-n OF EVERY PARTITION to the driver — the
    driver payload grows with partition count (1 GB past
    maxResultSize at 2M vectors / 30 partitions; unbounded on a
    1000-executor scan).  Past a few partitions the sample is
    pre-filtered to ``vid <= approxQuantile(~3n/N)`` first — a
    deterministic superset of the true lowest-n, so the final
    orderBy+limit returns the BIT-IDENTICAL sample the direct path
    returns — bounding the fan-in at ~3n rows regardless of cluster
    width (exact-count fallback if the sketch undershoots)."""
    if nd is None:
        nd = normalized_vectors(emb, id_col, vec_col)
    src = nd.select("vid", "nv")
    n = k * TRAIN_PER_CELL

    def _direct():
        return src.orderBy("vid").limit(n).collect()

    # ``corpus_count``: callers that already know N (ivf_topk's sizing
    # count, pipelines) skip the sizing job here — one fewer count per
    # inline build (driver-latency, not data, at every scale).  The
    # narrow-scan fast path stays FIRST regardless: at ≤8 partitions
    # TakeOrdered's fan-in is already bounded, and the quantile
    # prefilter would cost an extra full pass (r15: the corpus_count
    # plumb initially bypassed this check, sending small builds down
    # the approxQuantile path — pure regression at fixture scale).
    if src.rdd.getNumPartitions() <= 8:
        sample = _direct()
    else:
        total = (int(corpus_count) if corpus_count is not None
                 else src.count())
        if total <= n:
            sample = _direct()
        else:
            # The 0.001 relative error is an ABSOLUTE rank-fraction
            # bound: once 0.001·N exceeds the ~2n/N headroom of the
            # 3n/N target (n=4096 → N ≥ ~8M rows) the sketched
            # threshold can undershoot the true rank-n vid.  Falling
            # straight back to _direct() would reintroduce the
            # unbounded TakeOrdered fan-in on exactly the wide corpora
            # this filter exists for (ADVICE r13) — so escalate the
            # fraction (10n/N … 1000n/N; the sketch's absolute error
            # 0.001·N only out-runs the margin once N > 999000·n, far
            # past any real corpus) first; each retry's TakeOrdered is
            # bounded by the filter to ≲ mult·n rows.  _direct()
            # remains only for the fraction ≥ 1 endgame, where the
            # filter would pass every row anyway (total ≤ 1000n, so
            # the fan-in is bounded).
            sample = None
            for mult in (3.0, 10.0, 100.0, 1000.0):
                frac = mult * n / total
                if frac >= 1.0:
                    break
                thr = src.stat.approxQuantile("vid", [frac], 0.001)[0]
                cand = (
                    src.filter(F.col("vid") <= thr)
                    .orderBy("vid").limit(n).collect()
                )
                if len(cand) >= n:
                    sample = cand
                    break
            if sample is None:
                sample = _direct()
    S = np.asarray([r.nv for r in sample], dtype=np.float64)
    # seeds: same rule as every prior round — stride 7 through the
    # lowest-id vectors (the sample is a superset of that pool)
    C = S[::7][:k]
    if len(C) < k:  # degenerate tiny corpus: wrap-pad
        C = np.vstack([C, S[: k - len(C)]])
    C = C / np.maximum(
        np.linalg.norm(C, axis=1, keepdims=True), 1e-12
    )
    for _ in range(iters):
        cells = np.argmax(S @ C.T, axis=1)  # ties → first, as before
        for c in range(k):
            members = S[cells == c]
            if len(members):
                v = members.mean(axis=0)
                norm = np.linalg.norm(v)
                if norm > 0:
                    C[c] = v / norm
    return C.tolist()


def _assign_cells(nd: DataFrame,
                  cents: list[list[float]],
                  r: int = 1) -> DataFrame:
    """Nearest-centroid cell per vector.

    Small codebooks (≤8 cells) stay pure-Column: per-centroid dots in
    ONE array column, argmax'd with array_position (a chained when()-
    argmax would re-embed every prior dot into each comparison and
    blow the plan up exponentially).

    Larger codebooks switch to an Arrow-batched pandas UDF holding the
    centroid matrix in its closure: one numpy ``argmax(M @ C.T)`` per
    batch.  The Column path costs O(n_cells·dim) *literals in the
    plan* — at n_cells≈√N sizing that is quadratic-ish in analysis/
    codegen time and collapses long before the data does (44 cells ×
    64 dims already 3×'d the bench); the UDF path is flat in plan size
    and BLAS-fast per row regardless of codebook size.

    ``r`` > 1 is MULTI-ASSIGNMENT (the classic IVF recall lever for
    cluster-poor corpora, e.g. Jégou et al.'s multiple-assignment):
    each vector lands in its ``r`` nearest cells — r rows per vector,
    primary (argmax) cell first in emission order — trading r× index
    storage for candidate coverage when neighbors straddle cell
    boundaries.  Always the UDF path (one ``argpartition`` per batch,
    stable-tie-broken to match the r=1 argmax), exploded JVM-side.
    """
    r = max(1, min(int(r), len(cents)))
    if r > 1:
        CT_m = np.asarray(cents, dtype=np.float64).T  # (dim, k)

        @F.pandas_udf("array<int>")
        def _cells_r(vs: pd.Series) -> pd.Series:
            M = np.array(vs.tolist(), dtype=np.float64)
            D = M @ CT_m  # (batch, k)
            # full argsort (descending, stable) keeps ties on the
            # FIRST index — bit-identical primary cell to the r=1
            # argmax path; k≈√N codebooks keep this cheap per batch
            order = np.argsort(-D, axis=1, kind="stable")[:, :r]
            return pd.Series(list(order.astype("int32")))

        return (
            nd.withColumn("_cells", _cells_r(F.col("nv")))
            .withColumn("cell", F.explode("_cells"))
            .drop("_cells")
        )
    if len(cents) * len(cents[0]) <= 512:
        dots = F.array(
            *[
                F.aggregate(
                    F.zip_with(
                        F.col("nv"),
                        F.array(*[F.lit(float(x)) for x in c]),
                        lambda a, b: a * b,
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
                for c in cents
            ]
        )
        return nd.withColumn("_dots", dots).withColumn(
            "cell",
            (F.array_position("_dots", F.array_max("_dots")) - 1)
            .cast("int"),
        ).drop("_dots")

    CT = np.asarray(cents, dtype=np.float64).T  # (dim, k)

    @F.pandas_udf("int")
    def _cell(vs: pd.Series) -> pd.Series:
        M = np.array(vs.tolist(), dtype=np.float64)  # (batch, dim)
        # ties: argmax picks the first max, same as array_position
        return pd.Series(np.argmax(M @ CT, axis=1).astype("int32"))

    return nd.withColumn("cell", _cell(F.col("nv")))


def ivf_index(emb: DataFrame, n_cells: int | None = None,
              id_col: str = "vec_id", vec_col: str = "embedding",
              nd: DataFrame | None = None,
              assign_r: int = 1,
              ) -> tuple[DataFrame, list[list[float]]]:
    """One-time IVF index build: ``((vid, nv, cell) DataFrame,
    centroids)``.

    The 100 TB IVF story splits in two (round 10): the ASSIGNMENT of
    every vector to its nearest cell is linear by construction — the
    same truth as any index build — and must run ONCE, not once per
    query batch.  Persist the returned frame
    ``.write.partitionBy("cell").parquet(...)`` and hand the re-read
    frame to :func:`ivf_topk` via ``index=``: probe cells are known
    on the DRIVER at query time, so the probe filter is a static
    ``cell IN (…)`` that prunes parquet partitions — each query batch
    reads only the ~nprobe·√N rows it scores, never the corpus.
    Centroids are a √N×dim driver list — persist as JSON beside the
    index.

    ``assign_r`` > 1 multi-assigns each vector to its r nearest cells
    (see :func:`_assign_cells`) — pass the SAME value to
    :func:`write_ivf_index` so the bundle meta records it and
    :func:`ivf_topk` dedupes candidates."""
    if n_cells is None:
        n_cells = _sqrt_cells(emb.count())
    if nd is None:
        nd = normalized_vectors(emb, id_col, vec_col)
    cents = ivf_centroids(
        emb, n_cells, id_col=id_col, vec_col=vec_col, nd=nd
    )
    return _assign_cells(nd, cents, r=assign_r), cents


class _QRow(NamedTuple):
    vid: int
    nv: list


def _normalize_query_vectors(
    query_vectors: dict[int, list[float]],
) -> list[_QRow]:
    """Driver-side L2 normalization of caller-supplied query vectors
    (bounded query set — numpy on the driver, zero Spark jobs)."""
    out = []
    for qid, v in query_vectors.items():
        a = np.asarray(v, dtype=np.float64)
        # same epsilon-clamped norm as normalized_vectors (bit parity
        # with a corpus-resident copy of the same vector)
        n = max(float(np.linalg.norm(a)), 1e-12)
        out.append(_QRow(int(qid), [float(x) for x in a / n]))
    return out


class IVFIndex(NamedTuple):
    """A persisted IVF index bundle (see :func:`write_ivf_index`).

    ``cells``: (vid, nv, cell) read from the cell-partitioned store —
    the probe filter prunes its partitions.  ``vids``: the same (vid,
    nv) pairs re-read from a vid-range-partitioned, vid-sorted sidecar
    — a ``vid IN (…)`` point lookup prunes to O(queries) row groups
    via parquet min/max stats instead of scanning the corpus (the
    round-10 weak edge: fetching ~5 query vectors through the
    cell-partitioned store read every partition's vid/nv columns).
    ``centroids``: the √N×dim driver-side list."""

    cells: DataFrame
    vids: DataFrame
    centroids: list
    # bundle assign_r (multi-assignment width): >1 means cells holds r
    # rows per vector and ivf_topk must dedupe (qid, vid) candidates
    assign_r: int = 1


def _cell_fit(cents: list[list[float]]):
    """(nv, cell) → cosine to the assigned centroid — the assignment
    FIT, the quantity index-quality drift is measured in."""
    C = np.asarray(cents, dtype=np.float64)

    @F.pandas_udf("double")
    def _fit(vs: pd.Series, cells: pd.Series) -> pd.Series:
        M = np.array(vs.tolist(), dtype=np.float64)
        sel = C[cells.to_numpy(dtype=np.int64)]
        return pd.Series(np.einsum("ij,ij->i", M, sel))

    return _fit


def _bundle_paths(path: str, gen: int) -> tuple[str, str, str]:
    """(cells dir, vids dir, centroids file) for a bundle generation.

    Generation 0 keeps the round-12 flat names (``cells/``, ``vids/``,
    ``centroids.json``) so pre-versioning bundles read unchanged;
    every rewrite lands in ``-v<N>`` siblings and is published by the
    atomic ``meta.json`` gen-pointer swap."""
    if gen <= 0:
        return (os.path.join(path, "cells"),
                os.path.join(path, "vids"),
                os.path.join(path, "centroids.json"))
    return (os.path.join(path, f"cells-v{gen}"),
            os.path.join(path, f"vids-v{gen}"),
            os.path.join(path, f"centroids-v{gen}.json"))


def _load_meta(path: str) -> dict:
    """Bundle meta with defaults for pre-versioning (round-12) bundles:
    no ``gen`` key means generation 0, no fit accumulator means no
    appends have been tracked yet."""
    mp = os.path.join(path, "meta.json")
    meta = {"base_n": None, "appended_n": 0, "base_mean_fit": None}
    if os.path.exists(mp):
        with open(mp) as f:
            meta = json.load(f)
    meta.setdefault("gen", 0)
    meta.setdefault("appended_fit_sum", 0.0)
    meta.setdefault("appended_fit_n", 0)
    meta.setdefault("assign_r", 1)
    return meta


def _bundle_lock(path: str):
    """Single-writer serialization for one bundle (ADVICE r12): all
    mutators (write/append/compact/maintain) hold an exclusive flock
    on ``<path>/meta.lock`` for their full span, so two engines
    appending concurrently cannot lose ``appended_n`` increments or
    interleave the store appends.  Same filesystem contract as the
    view registry (``plans.registry.Registry``): reliable on local
    POSIX filesystems; assume one writer per bundle on NFS/object
    stores.  Readers take no lock — the gen pointer gives any
    read_ivf_index call a consistent generation, and a handle opened
    just before a rewrite keeps working for one grace cycle (the
    previous generation is GC'd by the NEXT rewrite, not the commit —
    see :func:`_sweep_gens`); re-open handles after a rewrite rather
    than holding them across several."""
    from mapreduce_spark.plans.registry import _flocked

    return _flocked(os.path.join(path, "meta.lock"))


def _sweep_gens(path: str, keep: int) -> None:
    """Best-effort removal of old store generations, called only
    AFTER the meta gen-pointer commit (a crash before it leaves
    orphan dirs, never a broken bundle).

    The generation IMMEDIATELY BEFORE ``keep`` is spared: it outlives
    its replacement by one full rewrite cycle, so a reader that
    opened an :class:`IVFIndex` just before the swap keeps working —
    the same writer-never-deletes-what-a-reader-may-hold rule the
    view registry's base-v<N> layout follows.  It is GC'd by the NEXT
    rewrite; long-lived handles should still re-open after a rewrite
    (see :func:`write_ivf_index`).  Crashed temp files
    (``centroids-*.json.tmp.<pid>``) are swept regardless."""
    keep_paths = set(_bundle_paths(path, keep))
    if keep > 0:
        keep_paths |= set(_bundle_paths(path, keep - 1))
    for name in list(os.listdir(path)):
        full = os.path.join(path, name)
        if full in keep_paths:
            continue
        try:
            if (name == "cells" or name.startswith("cells-v")
                    or name == "vids" or name.startswith("vids-v")):
                shutil.rmtree(full)
            elif name.startswith("centroids"):  # incl. crashed .tmp.*
                os.unlink(full)
        except OSError:
            pass  # a reader may pin files on some platforms; retry next rewrite


def _write_bundle(index: DataFrame, centroids: list, path: str,
                  gen: int, assign_r: int = 1) -> dict:
    """Unlocked core of :func:`write_ivf_index` (callers hold the
    bundle lock): write generation ``gen`` stores, commit the meta
    gen pointer, sweep older generations.

    ``assign_r`` > 1: ``index`` holds r rows per vector (one per
    assigned cell).  The vid sidecar dedupes to one (vid, nv) row per
    vector (same nv on every copy), and ``base_n`` records VECTORS
    (rows // r — exact because :func:`_assign_cells` clamps r to the
    codebook size), keeping the growth/retrain arithmetic in vector
    units on both sides."""
    from pyspark import StorageLevel
    from pyspark.sql import Observation

    # mirror _assign_cells' clamp: a requested r beyond the codebook
    # produced len(centroids) rows per vector, and meta/base_n must
    # record the EFFECTIVE width or the vector-unit division is wrong
    assign_r = max(1, min(int(assign_r), len(centroids)))
    cells_dir, vids_dir, cent_path = _bundle_paths(path, gen)
    # sweep a crashed earlier attempt at this same generation
    for d in (cells_dir, vids_dir):
        if os.path.isdir(d):
            shutil.rmtree(d)
    obs = Observation()
    fit = _cell_fit(centroids)
    # persist across the two store writes: the assignment (a pandas
    # UDF over the whole corpus) would otherwise execute twice — once
    # for cells/, once for the sidecar's sampler+write
    index = index.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        (
            index.withColumn("_fit", fit(F.col("nv"), F.col("cell")))
            .observe(obs, F.count(F.lit(1)).alias("n"),
                     F.avg("_fit").alias("fit"))
            .drop("_fit")
            # cluster by cell before the partitioned write: without
            # it every upstream task writes a sliver into every cell
            # directory (tasks × cells small files — ~45k at 2M
            # vectors / 1.4k cells); after it each cell lands in
            # exactly one task → one file per cell, and query-side
            # partition pruning opens one file per probed cell
            .repartition(F.col("cell"))
            .write.partitionBy("cell").mode("overwrite")
            .parquet(cells_dir)
        )
        sidecar = index.select("vid", "nv")
        if assign_r > 1:
            # one (vid, nv) row per VECTOR: a multi-assigned store
            # carries r copies, and a duplicated sidecar would hand
            # ivf_topk duplicate query rows (duplicate probe sets and
            # an inline q table with repeated qids)
            sidecar = sidecar.dropDuplicates(["vid"])
        (
            sidecar
            .repartitionByRange("vid")
            .sortWithinPartitions("vid")
            .write.mode("overwrite")
            .parquet(vids_dir)
        )
    finally:
        index.unpersist()
    ctmp = f"{cent_path}.tmp.{os.getpid()}"
    with open(ctmp, "w") as f:
        json.dump(centroids, f)
    os.replace(ctmp, cent_path)
    m = obs.get
    meta = {
        "gen": gen,
        "base_n": int(m["n"] or 0) // max(1, assign_r),
        "appended_n": 0,
        "base_mean_fit": float(m["fit"]) if m["fit"] is not None
        else None,
        "appended_fit_sum": 0.0,
        "appended_fit_n": 0,
        "assign_r": int(assign_r),
    }
    _write_meta(path, meta)  # COMMIT: readers switch to gen here
    _sweep_gens(path, gen)
    return meta


def write_ivf_index(index: DataFrame, centroids: list,
                    path: str, assign_r: int = 1) -> dict:
    """Persist an :func:`ivf_index` result as a self-contained bundle:

    - ``cells/``  — partitionBy("cell"): query batches read only their
      probed cells (static partition pruning);
    - ``vids/``   — (vid, nv) range-partitioned and sorted by vid:
      query-vector point lookups read only the matching row groups;
    - ``centroids.json`` — the driver-side centroid list;
    - ``meta.json``      — the generation pointer plus build stats
      (corpus size, rows appended since build, mean assignment fit)
      driving the :func:`ivf_append` retrain recommendation.

    The sidecar doubles the index footprint's (vid, nv) columns —
    ~8·dim bytes/vector — which is the classic space-for-IO trade: it
    converts the per-batch query fetch from O(corpus) to O(queries).

    Crash semantics (ADVICE r12): a REWRITE of an existing bundle
    (re-train over the same path, :func:`ivf_compact`,
    :func:`ivf_maintain`) never overwrites the live stores — it writes
    generation N+1 sibling directories and publishes them with the
    atomic ``meta.json`` gen-pointer swap, so a crash at any point
    leaves the previous generation intact and readable (orphan partial
    dirs are swept by the next successful rewrite).  Old generations
    are deleted after the commit: re-open the bundle
    (:func:`read_ivf_index`) after any rewrite rather than reusing a
    stale ``IVFIndex`` whose lazy frames point at swept files.

    Returns the meta dict it wrote."""
    os.makedirs(path, exist_ok=True)
    with _bundle_lock(path):
        old = _load_meta(path)
        gen = (old["gen"] + 1
               if os.path.exists(os.path.join(path, "meta.json"))
               else 0)
        return _write_bundle(index, centroids, path, gen,
                             assign_r=assign_r)


def _write_meta(path: str, meta: dict) -> None:
    """Atomic meta.json checkpoint (write-temp + rename): a crash
    mid-dump must leave the previous meta, never torn JSON that would
    fail the next append's json.load."""
    mp = os.path.join(path, "meta.json")
    tmp = f"{mp}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, mp)


def ivf_compact(spark, path: str) -> dict:
    """Fold a bundle's append generations back to one layout WITHOUT
    re-training: rewrite the cell store and the vid sidecar from the
    current generation under the EXISTING centroids.

    Cheaper than a re-train when the centroids still fit (no k-means):
    use it when ivf_append reports growth but not fit_drop — point
    lookups return to one sorted generation and the partition layout
    is re-packed.  O(corpus) IO by nature (it IS a compaction).

    Crash-safe (ADVICE r12 medium): the rewrite reads generation N's
    files and writes generation N+1 sibling directories — at no point
    does it delete or overwrite what it is reading — and the bundle
    flips to the new layout only at the atomic meta gen-pointer
    commit.  A crash mid-compact leaves generation N fully live; no
    re-train or other recovery is needed, just re-run.  The bundle
    lock serializes against concurrent appends for the full span.

    Returns the fresh meta dict (appended_n folds into base_n)."""
    with _bundle_lock(path):
        return _compact_core(spark, path, _load_meta(path))


def _compact_core(spark, path: str, meta: dict) -> dict:
    """Unlocked compact body (callers hold the bundle lock): rewrite
    the next generation from the current store under the EXISTING
    centroids.  Shared by :func:`ivf_compact` and
    :func:`ivf_maintain`'s compact branch."""
    cells_dir, _, cent_path = _bundle_paths(path, meta["gen"])
    with open(cent_path) as f:
        cents = json.load(f)
    store = spark.read.parquet(cells_dir).select(
        "vid", "nv", F.col("cell").cast("int").alias("cell")
    )
    # a multi-assigned store already holds its r rows per vector with
    # the right cells — the compact rewrites them as-is
    return _write_bundle(store, cents, path, meta["gen"] + 1,
                         assign_r=int(meta.get("assign_r") or 1))


# ivf_append retrain thresholds (documented contract): recommend a
# re-train when the appended batch's mean assignment fit has dropped
# more than IVF_RETRAIN_FIT_DROP cosine below the build-time mean
# (the centroids no longer describe the incoming distribution), or
# when appends total more than IVF_RETRAIN_GROWTH × the build corpus
# (cells have doubled; probe cost per query has too).  The index stays
# CORRECT past either threshold — recall for well-fitting queries is
# unchanged — it just drifts away from the √N-sized-cell cost model.
IVF_RETRAIN_FIT_DROP = 0.05
IVF_RETRAIN_GROWTH = 1.0


def ivf_append(path: str, new_emb: DataFrame,
               id_col: str = "vec_id",
               vec_col: str = "embedding",
               nd: DataFrame | None = None) -> dict:
    """Incrementally extend a persisted IVF bundle with a new corpus
    batch (VERDICT r11 #3): assign ONLY the new vectors to the
    EXISTING centroids and append to ``cells/`` and the vid sidecar —
    the refresh plan scans just the batch, never the stored index, so
    maintenance is O(batch) where a rebuild is O(corpus).

    The sidecar append adds new vid-sorted files rather than
    re-sorting the store: parquet min/max pruning stays per-file, so
    point lookups read at most one row group per APPEND GENERATION —
    fine for bounded append cadence; each re-train (which rewrites the
    bundle) folds the generations back to one sorted layout.

    The assignment is snapshotted (``localCheckpoint``) before the
    two writes, so a live ``new_emb`` source (an append-only changes
    feed growing mid-call) cannot make cells/ and vids/ diverge, and
    the batch is scanned + UDF-assigned exactly once.  Crash
    semantics: the two store appends are not atomic — a driver death
    between them leaves the bundle half-appended (vectors scored as
    candidates but invisible to vid lookups, or vice versa).  Do NOT
    blindly re-run the append (duplicate vids inflate ranks); recover
    by re-training (write_ivf_index rewrites both stores) — the
    meta.json checkpoint itself is atomic either way.

    Concurrency (ADVICE r12): the whole span — meta load, the two
    store appends, the meta checkpoint — runs under the bundle's
    ``meta.lock`` flock, so two engines appending to one bundle
    serialize instead of losing ``appended_n`` increments or
    interleaving the four parquet appends.  Same filesystem contract
    as the registry (local POSIX; single writer elsewhere).

    Returns a report ``{appended, mean_fit, base_mean_fit, fit_drop,
    growth, retrain_recommended}``; see IVF_RETRAIN_FIT_DROP /
    IVF_RETRAIN_GROWTH for the recommendation contract.
    :func:`ivf_maintain` acts on the accumulated meta counters."""
    from pyspark.sql import Observation

    with _bundle_lock(path):
        meta = _load_meta(path)
        cells_dir, vids_dir, cent_path = _bundle_paths(
            path, meta["gen"]
        )
        with open(cent_path) as f:
            cents = json.load(f)
        if nd is None:
            nd = normalized_vectors(new_emb, id_col, vec_col)
        obs = Observation()
        fit = _cell_fit(cents)
        # inherit the bundle's multi-assignment width: a batch appended
        # at a different r would break the store's r-rows-per-vector
        # invariant that compact/retrain and base_n arithmetic rely on
        asg_r = max(1, min(int(meta.get("assign_r") or 1), len(cents)))
        assigned = (
            _assign_cells(nd, cents, r=asg_r)
            .withColumn("_fit", fit(F.col("nv"), F.col("cell")))
            .observe(obs, F.count(F.lit(1)).alias("n"),
                     F.avg("_fit").alias("fit"))
            .localCheckpoint()  # one scan; both writes read the snapshot
        )
        try:
            (
                assigned.drop("_fit")
                # same cell-clustering as _write_bundle: one file per
                # touched cell per append generation, not tasks×cells
                .repartition(F.col("cell"))
                .write.partitionBy("cell").mode("append")
                .parquet(cells_dir)
            )
            sidecar = assigned.select("vid", "nv")
            if asg_r > 1:
                # same one-row-per-vector sidecar contract as
                # _write_bundle (the snapshot holds r rows per vid)
                sidecar = sidecar.dropDuplicates(["vid"])
            (
                sidecar
                .repartitionByRange("vid")
                .sortWithinPartitions("vid")
                .write.mode("append")
                .parquet(vids_dir)
            )
        finally:
            # release the checkpoint blocks: repeated appends in one
            # session must not accumulate executor storage (round 13:
            # DataFrame.unpersist() silently no-ops on checkpoint
            # blocks — this call was ineffective until the helper)
            release_local_checkpoint(assigned)
        m = obs.get
        # vector units (rows // r), matching base_n — exact: r is
        # clamped to the codebook so every vector emits exactly r rows
        n = int(m["n"] or 0) // asg_r
        mean_fit = float(m["fit"]) if m["fit"] is not None else None
        meta["appended_n"] = int(meta.get("appended_n") or 0) + n
        if mean_fit is not None:
            # running batch-fit accumulator: ivf_maintain's retrain
            # decision uses the aggregate appended fit, not just the
            # last batch's
            meta["appended_fit_sum"] = (
                float(meta.get("appended_fit_sum") or 0.0)
                + mean_fit * n
            )
            meta["appended_fit_n"] = (
                int(meta.get("appended_fit_n") or 0) + n
            )
        base_fit = meta.get("base_mean_fit")
        base_n = meta.get("base_n")
        fit_drop = (
            base_fit - mean_fit
            if base_fit is not None and mean_fit is not None else None
        )
        growth = (
            meta["appended_n"] / base_n if base_n else None
        )
        _write_meta(path, meta)
    return {
        "appended": n,
        "mean_fit": mean_fit,
        "base_mean_fit": base_fit,
        "fit_drop": fit_drop,
        "growth": growth,
        "retrain_recommended": bool(
            (fit_drop is not None and fit_drop > IVF_RETRAIN_FIT_DROP)
            or (growth is not None and growth > IVF_RETRAIN_GROWTH)
        ),
    }


def read_ivf_index(spark, path: str) -> IVFIndex:
    """Re-open a :func:`write_ivf_index` bundle (at its current
    generation — re-call after a compact/retrain rewrite)."""
    meta = _load_meta(path)
    cells_dir, vids_dir, cent_path = _bundle_paths(path, meta["gen"])
    with open(cent_path) as f:
        cents = json.load(f)
    return IVFIndex(
        cells=spark.read.parquet(cells_dir),
        vids=spark.read.parquet(vids_dir),
        centroids=cents,
        assign_r=int(meta.get("assign_r") or 1),
    )


def ivf_maintain(spark, path: str,
                 fit_drop_threshold: float = IVF_RETRAIN_FIT_DROP,
                 growth_threshold: float = IVF_RETRAIN_GROWTH,
                 ) -> dict:
    """Act on the :func:`ivf_append` retrain recommendation (VERDICT
    r12 #6) — the maintenance entry point a scheduled job calls after
    an append cadence:

    - **retrain** when the aggregate appended-batch assignment fit has
      dropped more than ``fit_drop_threshold`` below the build-time
      mean: the centroids no longer describe the incoming
      distribution.  New centroids are trained from the STORED
      normalized vectors (no access to the source embeddings table is
      needed — the store IS the corpus), the cell count re-sized to
      √N for the grown corpus, and the bundle rewritten.
    - **compact** when appends total more than ``growth_threshold`` ×
      the build corpus but the fit still holds: fold the append
      generations back to one sorted layout under the existing
      centroids (:func:`ivf_compact` semantics).
    - **none** otherwise — zero Spark jobs, just the meta read.

    Both rewrites inherit :func:`write_ivf_index`'s crash semantics
    (new-generation sibling dirs + atomic gen-pointer commit) and run
    under the bundle lock, serialized against concurrent appends.

    Returns ``{action, fit_drop, growth, meta}`` where ``meta`` is the
    post-action bundle meta."""
    with _bundle_lock(path):
        meta = _load_meta(path)
        afn = int(meta.get("appended_fit_n") or 0)
        app_fit = (
            float(meta["appended_fit_sum"]) / afn if afn else None
        )
        base_fit = meta.get("base_mean_fit")
        base_n = meta.get("base_n")
        fit_drop = (
            base_fit - app_fit
            if base_fit is not None and app_fit is not None else None
        )
        growth = (
            meta["appended_n"] / base_n
            if base_n and meta.get("appended_n") else None
        )
        if fit_drop is not None and fit_drop > fit_drop_threshold:
            action = "retrain"
        elif growth is not None and growth > growth_threshold:
            action = "compact"
        else:
            return {"action": "none", "fit_drop": fit_drop,
                    "growth": growth, "meta": meta}
        if action == "compact":
            new_meta = _compact_core(spark, path, meta)
            return {"action": action, "fit_drop": fit_drop,
                    "growth": growth, "meta": new_meta}
        cells_dir, _, _ = _bundle_paths(path, meta["gen"])
        store = spark.read.parquet(cells_dir).select("vid", "nv")
        asg_r = int(meta.get("assign_r") or 1)
        if asg_r > 1:
            # the multi-assigned store holds r (vid, nv) copies —
            # train and reassign on one row per VECTOR
            store = store.dropDuplicates(["vid"])
        n_total = int(meta.get("base_n") or 0) + int(
            meta.get("appended_n") or 0
        )
        k = _sqrt_cells(n_total)
        # the k-means sample is drawn in vid-HASH order, not vid
        # order: ivf_centroids' bounded limit would otherwise train
        # only on the lowest vids — typically the ORIGINAL corpus —
        # excluding exactly the drifted appended vectors this retrain
        # exists to absorb (review r13).  Hashing the vid gives a
        # deterministic uniform sample across base + appends; the
        # sample's "vid" is only an ordering key for the seed stride.
        sample_src = store.select(
            F.xxhash64("vid").alias("vid"), "nv"
        )
        cents = ivf_centroids(None, k, nd=sample_src)
        assigned = _assign_cells(store, cents, r=asg_r)
        new_meta = _write_bundle(assigned, cents, path,
                                 meta["gen"] + 1, assign_r=asg_r)
        return {"action": action, "fit_drop": fit_drop,
                "growth": growth, "meta": new_meta}


def ivf_topk(emb: DataFrame | None, query_ids: list[int] | None,
             k: int,
             n_cells: int | None = None, nprobe: int | None = None,
             id_col: str = "vec_id",
             vec_col: str = "embedding",
             nd: DataFrame | None = None,
             index: DataFrame | IVFIndex | None = None,
             centroids: list[list[float]] | None = None,
             query_vectors: dict[int, list[float]] | None = None,
             assign_r: int = 1,
             ) -> DataFrame:
    """IVF approximate top-k: probe the ``nprobe`` nearest cells per
    query, rerank candidates exactly.  Scans corpus·nprobe/n_cells.

    Defaults follow standard IVF sizing: n_cells ≈ √N (cells stay
    ~√N-sized), nprobe ≈ n_cells/4 (scan ~25% of the corpus) — tune
    nprobe down for throughput once the corpus has real cluster
    structure.

    ``nd``: caller-owned pre-normalized corpus (persisted if shared
    with other pipelines).  Training needs only one bounded ``limit``
    collect now, so no internal cache is required: the driver issues
    exactly four jobs end to end — count (adaptive sizing), training
    sample, query rows, search.

    ``index``/``centroids`` (round 10): a prebuilt
    :func:`ivf_index` — skips training AND the per-call corpus
    assignment; with the index persisted ``partitionBy("cell")``,
    the static probe-cell filter below prunes partitions and the
    query reads only the probed cells.  This is the amortized path a
    repeated-query workload must use at scale.

    Query-vector sources for the amortized path, in preference order
    (round 11 — making the path scan-free end to end):

    - ``query_vectors={qid: raw_vector}`` — the natural API: queries
      usually don't live in the corpus at query time.  Normalized
      driver-side; ZERO fetch jobs.  qids are caller LABELS: no
      self-exclusion is applied, so a corpus vector whose vid equals
      a label still ranks (the vid != qid filter exists only for the
      in-corpus ``query_ids`` paths, where a vector is trivially its
      own nearest neighbor).
    - ``index`` as an :class:`IVFIndex` (``read_ivf_index``) — the
      ``vids`` sidecar is vid-sorted/range-partitioned, so the
      ``vid IN (…)`` lookup reads only the matching row groups.
    - ``index`` as a bare cells DataFrame — legacy fallback; the vid
      lookup cannot prune a cell-partitioned layout and reads every
      partition's (vid, nv) columns.  Fine inline, wrong at scale —
      pass an ``IVFIndex`` or ``query_vectors`` instead.

    ``assign_r`` (round 14): multi-assignment width for the inline /
    bare-frame paths — an :class:`IVFIndex` carries its own bundle
    value and overrides this.  r > 1 indexes each vector under its r
    nearest cells so candidates survive cell-boundary straddling (the
    structure-free-corpus recall lever); candidate (qid, vid) pairs
    are collapsed before ranking."""
    if index is not None:
        if isinstance(index, IVFIndex):
            cents = index.centroids if centroids is None else centroids
            lookup = index.vids
            assigned = index.cells
            assign_r = index.assign_r
        else:
            # bare cells DataFrame: the centroids list is required
            # regardless of the query-vector source (probe selection
            # needs it)
            cents = centroids
            lookup = index
            assigned = index
        if cents is None:
            raise ValueError(
                "ivf_topk(index=…) needs the matching centroids list"
            )
        n_cells = len(cents)
        if nprobe is None:
            nprobe = max(4, n_cells // 4)
        if query_vectors is not None:
            qrows = _normalize_query_vectors(query_vectors)
        else:
            qrows = lookup.filter(
                F.col("vid").isin(query_ids)
            ).select("vid", "nv").collect()
            if assign_r > 1:
                # a BARE multi-assigned cells frame used as the lookup
                # carries r rows per vid (the IVFIndex sidecar is
                # already deduped at write time)
                qrows = list({r.vid: r for r in qrows}.values())
    else:
        n = None
        if n_cells is None or nprobe is None:
            n = emb.count()
            if n_cells is None:
                n_cells = _sqrt_cells(n)
            if nprobe is None:
                nprobe = max(4, n_cells // 4)

        if nd is None:
            nd = normalized_vectors(emb, id_col, vec_col)
        # the sizing count above doubles as ivf_centroids'
        # corpus_count, so training never re-counts the corpus
        cents = ivf_centroids(
            emb, n_cells, id_col=id_col, vec_col=vec_col, nd=nd,
            corpus_count=n,
        )
        # query_vectors is honored on the inline path too (round 12,
        # ADVICE r11): previously it was silently ignored here — qrows
        # were fetched via query_ids (crashing when query_ids is None)
        # while the vid != qid self-exclusion below was already
        # skipped, so each query got its own corpus copy at rank 1.
        if query_vectors is not None:
            qrows = _normalize_query_vectors(query_vectors)
        else:
            qrows = nd.filter(F.col("vid").isin(query_ids)).collect()
        assigned = _assign_cells(nd, cents, r=assign_r)
    C = np.array(cents)
    probes = []  # (qid, cell)
    for r in qrows:
        v = np.array(r.nv)
        order = np.argsort(-(C @ v))
        probes += [(int(r.vid), int(c)) for c in order[:nprobe]]
    spark = (emb if emb is not None else assigned).sparkSession
    # all-literal inline tables (LocalTableScan — no Python RDD scan
    # and no job to build each broadcast side)
    probe_df = spark.range(1).select(
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(qid).cast("long").alias("qid"),
                        F.lit(c).cast("int").alias("cell"),
                    )
                    for qid, c in probes
                ]
            )
        )
    )
    q = spark.range(1).select(
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(int(r.vid)).cast("long").alias("qid"),
                        F.array(
                            *[F.lit(float(x)) for x in r.nv]
                        ).alias("qv"),
                    )
                    for r in qrows
                ]
            )
        )
    )
    # the probed cells are driver-known, so this is a STATIC IN
    # filter — on a cell-partitioned persisted index it prunes
    # partitions before any IO (the scale contract of ivf_index)
    cells_needed = sorted({c for _, c in probes})
    cand = (
        assigned.filter(F.col("cell").isin(cells_needed))
        .join(F.broadcast(probe_df), "cell")
    )
    if query_vectors is None:
        # queries came FROM the corpus: a vector is trivially its own
        # nearest neighbor, exclude it.  Caller-supplied query_vectors
        # carry arbitrary qid labels — a label that happens to equal
        # some corpus vid must NOT drop that (unrelated) vector.
        cand = cand.filter(F.col("vid") != F.col("qid"))
    cand = cand.join(F.broadcast(q), "qid")
    cos = _dot(F.col("nv"), F.col("qv"))
    # r=1: no distinct needed — a vector sits in exactly one cell and
    # the probed cells per query are distinct, so (qid, vid) is unique.
    # r>1: a vector reached through two probed cells would occupy two
    # of a query's k slots — collapse before ranking (the duplicate
    # rows carry the identical cosine, max == any).
    scored = cand.select("qid", "vid", cos.alias("cosine"))
    if assign_r > 1:
        scored = scored.groupBy("qid", "vid").agg(
            F.max("cosine").alias("cosine")
        )
    return _rank_topk(scored, k)
