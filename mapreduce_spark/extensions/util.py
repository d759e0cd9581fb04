"""Shared helpers for the extension operators, among them the
filter-and-refine core of every pair operator: :func:`bucket_pairs`
(candidates from one bucket join) and :func:`verify_pairs` (one exact
verification)."""

from __future__ import annotations

import warnings

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mapreduce_spark.plans.sizing import spread

_release_warned = False


def release_local_checkpoint(df: DataFrame) -> None:
    """Release the storage blocks of a ``localCheckpoint()``'d
    DataFrame.

    ``DataFrame.unpersist()`` is the WRONG lever here — it talks to
    the CacheManager (``.cache()/.persist()`` plans) and silently
    no-ops on the RDD-level persist a checkpoint holds; likewise
    ``queryExecution().toRdd()`` returns a fresh wrapper RDD whose
    unpersist touches nothing (measured round 13: a long CC run
    retained one edge frame PER ROUND and OOM'd a 48g heap at 100M
    edges).  The checkpointed DataFrame's analyzed plan is a
    ``LogicalRDD`` whose ``rdd()`` accessor IS the persisted RDD —
    unpersist that.  Best-effort: any plan shape other than a
    checkpoint (or a future Spark changing the internals) just
    leaves the blocks for session GC, as before — but NOT silently:
    this helper rides private accessors, and a Spark upgrade that
    renames them would otherwise no-op invisibly, regressing
    connected_components to O(rounds) retained edge frames (the
    100M-edge OOM this exists to prevent) with no signal outside the
    version-pinned test suite (ADVICE r13).  One warning per session,
    not per call — iterative callers hit this every round."""
    global _release_warned
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception as exc:
        if not _release_warned:
            _release_warned = True
            warnings.warn(
                "release_local_checkpoint could not reach the "
                f"checkpointed RDD ({type(exc).__name__}: {exc}); "
                "storage blocks of iterative checkpoints will "
                "accumulate until session GC. Spark internals may "
                "have changed.",
                RuntimeWarning,
                stacklevel=2,
            )


def dot_col(x: Column, y: Column) -> Column:
    """Σ xᵢ·yᵢ via zip_with/aggregate (JVM higher-order functions).

    NB: higher-order-function lambdas are CodegenFallback — evaluated
    by the expression interpreter once per ELEMENT.  That sounds like
    a reason to batch through an Arrow kernel, but the r15
    interleaved A/B on the exact top-k shape measured one as a
    LOSS at pair-scoring sites (wall 1.56 → 2.25 s, JVM CPU 0.81 →
    1.22 + uncounted Python-worker CPU): a pair row carries BOTH
    d-dim arrays, so the Python boundary ships 2·d doubles per pair
    and the transfer dwarfs the interpreted fold it replaces.  Keep
    the fold for per-pair scoring; reach for Arrow kernels where the
    batch input is one row per VECTOR (``_band_values``, the
    blocked-GEMM tiles, ``_assign_cells``), where the boundary cost
    amortizes across all comparisons against that vector."""
    return F.aggregate(
        F.zip_with(x, y, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_col(x: Column) -> Column:
    return F.sqrt(
        F.aggregate(x, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def normalized_vectors(emb: DataFrame, id_col: str = "vec_id",
                       vec_col: str = "embedding") -> DataFrame:
    """(vid, nv) with nv L2-normalized, double precision.

    The norm is materialized into its own column FIRST — embedding the
    norm aggregate inside the per-element transform lambda would
    re-evaluate it once per element (O(d²) interpreted work per row).
    """
    v = F.col(vec_col).cast("array<double>")
    staged = spread(emb).select(
        F.col(id_col).alias("vid"), v.alias("_v")
    ).withColumn("_n", F.greatest(norm_col(F.col("_v")), F.lit(1e-12)))
    return staged.select(
        "vid",
        F.transform("_v", lambda x: x / F.col("_n")).alias("nv"),
    )


def bucket_pairs(left: DataFrame, right: DataFrame | None = None,
                 id_col: str = "doc_id", extra=()) -> DataFrame:
    """Distinct candidate pairs ``(id_a, id_b, *extra)`` from one
    equi-join on the ``(band, bkt)`` bucket columns.

    Without ``right`` it is a self-join of ``left`` that keeps
    ``id_a < id_b``; with ``right`` it pairs ``left`` (id_a) with
    ``right`` (id_b).  ``extra`` columns may read either side through
    the ``a`` / ``b`` aliases.  Bucket keys are hashes, spread
    uniformly unless the rows really are near-duplicates."""
    a = left.alias("a")
    b = (left if right is None else right).alias("b")
    on = (F.col("a.band") == F.col("b.band")) \
        & (F.col("a.bkt") == F.col("b.bkt"))
    if right is None:
        on = on & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    return a.join(b, on).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        *extra,
    ).distinct()


def verify_pairs(cand: DataFrame, items: DataFrame, col: str, score,
                 name: str, threshold: float, id_col: str = "doc_id",
                 other: DataFrame | None = None) -> DataFrame:
    """Exact verification of candidate pairs: join ``col`` of both
    sides onto the distinct ``(id_a, id_b)`` candidates (``items``
    for id_a, ``other`` — ``items`` when None — for id_b), score each
    pair with ``score(col_a, col_b)`` into ``name`` and keep the pairs
    at or above ``threshold``.  The reported score is exact whatever
    produced the candidate."""
    sa = items.select(F.col(id_col).alias("id_a"),
                      F.col(col).alias(f"{col}_a"))
    sb = (items if other is None else other).select(
        F.col(id_col).alias("id_b"), F.col(col).alias(f"{col}_b"))
    return (
        cand.join(sa, "id_a").join(sb, "id_b")
        .select("id_a", "id_b",
                score(F.col(f"{col}_a"), F.col(f"{col}_b")).alias(name))
        .filter(F.col(name) >= threshold)
    )


def jaccard_col(x: Column, y: Column) -> Column:
    """|x ∩ y| / |x ∪ y| of two set-valued array columns."""
    inter = F.size(F.array_intersect(x, y))
    return inter / (F.size(x) + F.size(y) - inter)
