"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH,
SimHash, embedding-cosine near-dup.

Scale design (the 100 TB contract for each operator):

- **exact_dedup** — one hash-groupBy on md5(text); the only shuffle is
  on the 16-byte digest, never the document body.
- **jaccard_pairs** — inverted-index self-join on a prefix of each
  doc's rarest shingles — NEVER an all-pairs cross join; a
  stopword-shingle cap (``max_df``) keeps skewed shingles from
  exploding the join at corpus scale.
- **minhash_lsh_pairs** — the scale path: signatures are 96 md5-based
  permutations, 100% JVM (md5 + affine-min fold as codegen'd ``min``
  aggregates over exploded shingles — zero Python workers anywhere),
  banded b=32 × r=3 so a pair at Jaccard 0.9 is missed with
  probability (1-0.9³)³² ≈ 1e-18.
- **simhash** — 64-bit sign-of-weighted-sum over token md5s, computed
  as 64 conditional-sum aggregates in ONE shuffle; near-dup pairs are
  blocked on 16-bit bands (pigeonhole: hamming ≤ 3 ⇒ one of 4 bands
  equal) instead of all-pairs.
- **embedding_near_dup_blocked** — exact cosine near-dup as a blocked
  distributed GEMM (tile self-product via applyInPandas); the exact
  answer at any threshold with bounded task memory and no nested-loop
  join.  ``embedding_near_dup`` (plain pair join) stays as the tiny
  cross-check baseline; ``similarity.near_dup_lsh`` is the banded
  path for genuinely-near duplicates.

Every pair operator is filter-and-refine over one shared core
(``extensions/util.py``): candidates from one bucket join
(``bucket_pairs``; jaccard_pairs' prefix join is its own filter),
then one exact verification (``verify_pairs``) that reports the TRUE
Jaccard or cosine of each pair — so a banded operator's output equals
the exact operator's wherever its recall holds (property-checked in
tests).  ``jaccard_dedup_pairs`` and ``embedding_near_dup_pairs``
choose between the exact and the banded path with one router
(``_route_lsh``).

All hashes are md5 (bit-identical in DuckDB) so every operator here is
value-checkable against a SQL oracle.
"""

from __future__ import annotations

import logging

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mapreduce_spark.extensions.text import shingles, tokens
from mapreduce_spark.extensions.util import (
    bucket_pairs,
    dot_col as _dot,
    jaccard_col,
    normalized_vectors,
    release_local_checkpoint,
    verify_pairs,
)
from mapreduce_spark.plans.sizing import spread

log = logging.getLogger("mapreduce_spark.dedup")

# MinHash defaults: 32 bands × 3 rows = 96 permutations.
MINHASH_PERMS = 96
LSH_BANDS = 32
LSH_ROWS = 3


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, text: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate grouping by content hash.

    Returns one row per document: its fingerprint, the canonical
    (minimum-id) member of its duplicate group, the group size, and an
    ``is_dup`` flag.  One shuffle, on the digest.
    """
    fp = df.select(F.col(id_col), F.md5(F.col(text)).alias("fp"))
    groups = fp.groupBy("fp").agg(
        F.min(id_col).alias("canonical_id"),
        F.count(F.lit(1)).alias("group_size"),
    )
    return (
        fp.join(groups, "fp")
        .select(
            id_col,
            "fp",
            "canonical_id",
            "group_size",
            (F.col(id_col) != F.col("canonical_id")).alias("is_dup"),
        )
    )


# ---------------------------------------------------------------------------
# exact n-gram Jaccard via inverted index
# ---------------------------------------------------------------------------

def shingle_sets(df: DataFrame, n: int = 3, text: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    return spread(df).select(
        F.col(id_col).alias("doc_id"), shingles(n, text).alias("sh")
    )


JACCARD_MAX_DF = 10_000


def shingle_postings(df: DataFrame, n: int = 3, text: str = "text",
                     id_col: str = "doc_id",
                     max_df: int | None = JACCARD_MAX_DF) -> DataFrame:
    """(doc_id, shingle) inverted-index postings, skew-capped.

    ``max_df`` drops shingles appearing in more than that many docs: a
    shingle in k docs contributes C(k, 2) rows to the co-occurrence
    self-join, so one stopword shingle in 10⁶ docs would alone emit
    ~5·10¹¹ join rows.  The cap bounds every posting list, making the
    join cost Σ_s C(min(df_s, max_df), 2) — corpus-size-independent
    per shingle.  Capped shingles shrink |A∩B| for the pairs that
    share them (never |A| or |B|), so reported Jaccard only ever
    UNDERcounts for near-stopword overlap — the standard inverted-
    index trade; pass ``max_df=None`` for the exact small-corpus run.
    """
    return _cap_postings(
        shingle_sets(df, n, text, id_col).select(
            "doc_id", F.explode("sh").alias("s")
        ),
        max_df,
    )


def _cap_postings(ex: DataFrame, max_df: int | None) -> DataFrame:
    if max_df is None:
        return ex
    dfreq = ex.groupBy("s").count().filter(F.col("count") <= max_df)
    return ex.join(dfreq.select("s"), "s")


def jaccard_pairs(df: DataFrame, threshold: float, n: int = 3,
                  text: str = "text", id_col: str = "doc_id",
                  max_df: int | None = JACCARD_MAX_DF) -> DataFrame:
    """All pairs with shingle-set Jaccard ≥ threshold, prefix-filtered
    (AllPairs/PPJoin-style) then verified exactly.

    Round 6: the previous shape self-joined EVERY posting — the
    co-occurrence join emitted one row per shared shingle per pair
    (1.13 M pair-rows on the 5 k-doc fixture), inherently quadratic in
    co-occurring pairs.  The standard fix: order each doc's shingles
    by ascending global document frequency (rarest first, ties by
    shingle) and index only the PREFIX of length
    ``|d| − ⌈τ·|d|⌉ + 1`` — two sets with J ≥ τ must share at least
    one prefix token under any consistent global order (PPJoin
    Lemma 1), and rare-token prefixes collide orders of magnitude less
    than stopword-ish full postings.  Candidates additionally pass the
    length filter (τ·|A| ≤ |B| ≤ |A|/τ) before the shared exact
    verification.

    ``max_df`` still caps candidate-generation postings as skew armor
    (a prefix token in k docs contributes C(k,2) candidate rows), but
    by construction prefixes hold each doc's RAREST shingles, so the
    cap engages only on pathological corpora; verification exactness
    is unaffected either way (the cap can only lose candidate pairs
    whose every shared prefix token exceeds max_df).
    """
    sets_df = shingle_sets(df, n, text, id_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    ex = sets_df.select("doc_id", F.explode("sh").alias("s"))
    # document frequency and per-doc rank as WINDOWS, not
    # groupBy+join round-trips: one exchange on s, one on doc_id (the
    # sz count rides the rn window's doc_id exchange+sort).  Capped
    # (df > max_df) tokens keep their tail ranks — ascending-df order
    # puts them after every kept token — so filtering them afterwards
    # never shifts a surviving token into or out of the prefix.
    wS = Window.partitionBy("s")
    wD = Window.partitionBy("doc_id")
    wDo = wD.orderBy("dfreq", "s")
    keep = (
        F.col("rn")
        <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
    )
    if max_df is not None:
        keep = keep & (F.col("dfreq") <= max_df)
    pref = (
        ex.withColumn("dfreq", F.count(F.lit(1)).over(wS))
        .withColumn("sz", F.count(F.lit(1)).over(wD))
        .withColumn("rn", F.row_number().over(wDo))
        .filter(keep)
        .select("doc_id", "s", "sz", "rn")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    a, b = pref.alias("a"), pref.alias("b")
    # PPJoin POSITIONAL filter (Xiao et al., Lemma 2 shape): J ≥ τ
    # needs overlap ≥ τ/(1+τ)·(|A|+|B|), and at a pair's FIRST prefix
    # collision no shared token precedes the colliding one (the prefix
    # holds each doc's lowest-ranked tokens, so an earlier shared
    # token would itself be an earlier collision), hence
    # overlap ≤ 1 + min(|A|−rnₐ, |B|−rn_b) there.  Filtering every
    # collision row by its own bound keeps exactly the pairs whose
    # first collision passes (OR semantics via the distinct), so no
    # qualifying pair is lost — but pairs that only collide on LATE
    # prefix ranks are dropped before the distinct + verification
    # joins (measured r15 at sf0.1: 309,803 → far fewer candidate
    # pairs for the same 25 verified outputs; verification was the
    # operator's dominant CPU).
    overlap_req = F.lit(threshold / (1.0 + threshold)) * (
        F.col("a.sz") + F.col("b.sz")
    )
    pos_bound = F.lit(1) + F.least(
        F.col("a.sz") - F.col("a.rn"), F.col("b.sz") - F.col("b.rn")
    )
    cand = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # length filter: J ≥ τ needs τ·|A| ≤ |B| ≤ |A|/τ
            & (F.col("b.sz") * threshold <= F.col("a.sz"))
            & (F.col("a.sz") * threshold <= F.col("b.sz"))
            & (pos_bound >= overlap_req),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
        .distinct()
    )
    return verify_pairs(cand, sets_df, "sh", jaccard_col, "jaccard",
                        threshold)


def _route_lsh(op: str, exact: bool | None, corpus_count: int | None,
               ids: DataFrame, threshold: float, max_exact: int,
               lsh_floor: float) -> tuple[bool, int | None]:
    """The exact-or-LSH router of the two ``*_pairs`` entry points:
    ``(use_lsh, n)``, n the corpus count when it was taken.

    ``exact`` pins the path.  Otherwise corpora of at most
    ``max_exact`` rows run exact; larger ones run LSH when
    ``threshold`` reaches the banding recall floor ``lsh_floor``, and
    keep the exact path with a loud log when it does not (a silent
    recall hole is worse than a slow exact answer; pass exact=False
    to override).  ``corpus_count`` skips the count of ``ids``."""
    if exact is not None:
        return not exact, None
    n = int(corpus_count) if corpus_count is not None else ids.count()
    if n <= max_exact:
        return False, n
    if threshold >= lsh_floor:
        return True, n
    log.warning(
        "%s: corpus of %d rows with threshold %.2f — below the LSH "
        "recall floor (%.2f), so the EXACT path runs; pass "
        "exact=False to accept approximate recall instead",
        op, n, threshold, lsh_floor,
    )
    return False, n


# auto-routing bounds for jaccard_dedup_pairs: the exact prefix-filtered
# AllPairs join is linear-but-heavy — measured sf10 (500k docs) ≈
# 200 s on local[32], scaling exponent 0.96 (BASELINE.md round 7) —
# so past ~1M docs it stops being a defensible default; MinHash-LSH
# (b=32 × r=3) misses a pair at exactly Jaccard t with probability
# (1−t³)³² — ≤ 1.4% at t = 0.5, ≤ 0.04% at t = 0.6, →0 above — so
# below t ≈ 0.5 banding cannot reach recall ≈ 1 and exactness
# genuinely requires the prefix join
JACCARD_EXACT_MAX_DOCS = 1_000_000
JACCARD_LSH_MIN_THRESHOLD = 0.5


def jaccard_dedup_pairs(
    df: DataFrame, threshold: float, n: int = 3, text: str = "text",
    id_col: str = "doc_id", exact: bool | None = None,
    corpus_count: int | None = None,
    max_df: int | None = JACCARD_MAX_DF,
) -> DataFrame:
    """Jaccard near-dup pairs with scale-aware routing — THE entry
    point pipelines should call: the exact prefix-filtered AllPairs
    join (``jaccard_pairs``, linear but heavy) up to
    JACCARD_EXACT_MAX_DOCS, MinHash-LSH (``minhash_lsh_pairs``) past it
    at ``threshold ≥ JACCARD_LSH_MIN_THRESHOLD`` (see
    :func:`_route_lsh`).  Both report the TRUE Jaccard per pair, so
    the router changes only which pairs can be missed, never the
    meaning of a returned row."""
    use_lsh, _ = _route_lsh(
        "jaccard_dedup_pairs", exact, corpus_count, df.select(id_col),
        threshold, JACCARD_EXACT_MAX_DOCS, JACCARD_LSH_MIN_THRESHOLD,
    )
    if use_lsh:
        return minhash_lsh_pairs(
            df, threshold, n=n, text=text, id_col=id_col
        )
    return jaccard_pairs(df, threshold, n, text, id_col, max_df)


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

_M31 = (1 << 31) - 1  # Mersenne prime 2^31-1


def _perm_consts(num_perm: int) -> list[tuple[int, int]]:
    """Deterministic affine-permutation constants (aᵢ, bᵢ) derived
    from md5 — stable across sessions/machines."""
    import hashlib

    out = []
    for i in range(num_perm):
        h = hashlib.md5(f"perm:{i}".encode()).hexdigest()
        a = int(h[:8], 16) % (_M31 - 1) + 1
        b = int(h[8:16], 16) % _M31
        out.append((a, b))
    return out


def minhash_signatures(df: DataFrame, num_perm: int = MINHASH_PERMS,
                       n: int = 3, text: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """(doc_id, sig array<long>[num_perm], sz, sh) — min hash per
    permutation, 100% JVM (round-7: the former Arrow/numpy fold was
    the hottest Python stage shared by minhash, clusters, the
    composed pipeline and streaming dedup, and Python-worker startup
    storms made its latency bimodal — VERDICT r6 #4).

    One md5 per shingle (JVM-side, codegen'd, oracle-replicable)
    produces a 31-bit base hash; the num_perm affine permutations
    (aᵢ·h + bᵢ) mod 2³¹−1 fold as num_perm whole-stage-codegen'd
    ``min`` aggregates over the exploded shingles, grouped by doc —
    NOT as array_min(transform(…)) per row, whose higher-order-
    function lambdas are CodegenFallback (interpreted per element,
    measured ~3.5× slower).  The groupBy adds one exchange the
    per-row kernel did not have, but partial aggregation collapses
    each doc to a single row map-side (a doc's shingles share a row,
    hence a partition), so the shuffle carries ≈ docs × (num_perm
    longs + shingle set) — the same bytes the signature frame itself
    occupies, with zero Python workers anywhere.  All values are
    bit-identical to the previous kernel (a·h < 2⁶², no overflow).

    Empty shingle sets (doc shorter than n words) ride a null
    placeholder element: their mins coalesce to the all-sentinel
    signature and collect_set drops the null, so such docs keep
    ``sh = []`` — same observable output as before (their band
    collisions verify to 0/0 Jaccard = null and drop).
    """
    return minhash_signatures_from_sets(
        shingle_sets(df, n, text, id_col), num_perm
    )


def minhash_signatures_from_sets(
    sets_: DataFrame, num_perm: int = MINHASH_PERMS,
    with_sh: bool = True,
) -> DataFrame:
    """Signature fold over an existing (doc_id, sh) shingle frame.

    ``with_sh=False`` drops the shingle-set column from the output:
    the aggregate is then a pure codegen HashAggregate (the
    collect_set that re-packs per-doc shingle sets forces the slower
    ObjectHashAggregate and shuffles every string — measured ~2.5 s
    extra at sf0.1).  ``minhash_lsh_pairs`` uses this form and feeds
    the verification joins from the shingle frame itself; callers
    that PERSIST signatures (the streaming dedup index) keep the
    default sh-ful shape."""
    consts = _perm_consts(num_perm)
    ex = sets_.select(
        "doc_id",
        F.explode(
            F.when(F.size("sh") > 0, F.col("sh"))
            .otherwise(F.array(F.lit(None).cast("string")))
        ).alias("s"),
    ).select(
        "doc_id",
        "s",
        (
            F.conv(F.substring(F.md5("s"), 1, 8), 16, 10)
            .cast("long") % F.lit(_M31).cast("long")
        ).alias("h"),
    )
    m31 = F.lit(_M31).cast("long")
    aggs = [
        F.coalesce(
            F.min(
                (F.lit(a).cast("long") * F.col("h")
                 + F.lit(b).cast("long")) % m31
            ),
            m31,
        ).alias(f"_m{i}")
        for i, (a, b) in enumerate(consts)
    ]
    aggs.append(F.count("s").cast("int").alias("sz"))
    if with_sh:
        aggs.append(F.collect_set("s").alias("sh"))
    out = ex.groupBy("doc_id").agg(*aggs)
    cols = [
        "doc_id",
        F.array(*[F.col(f"_m{i}") for i in range(num_perm)])
        .alias("sig"),
        "sz",
    ]
    if with_sh:
        cols.append(F.col("sh"))
    return out.select(*cols)


def _band_buckets(sigs: DataFrame, num_perm: int,
                  bands: int) -> DataFrame:
    """(doc_id, band, bkt) rows: a polynomial fold of each band's
    minhash values in the 31-bit domain (spurious bucket collisions
    only add candidates, which the exact-Jaccard verification
    discards).

    Empty-shingle docs (shorter than n words) can never reach any
    Jaccard threshold > 0, but their shared sentinel signature would
    collide in every band — 32·C(k,2) candidate rows for k short
    docs, a quadratic shuffle blowup on short-doc-heavy corpora — so
    they are dropped before bucketing."""
    rows = num_perm // bands
    band_arr = F.array(
        *[
            F.aggregate(
                F.slice("sig", b * rows + 1, rows),
                F.lit(0).cast("long"),
                lambda acc, v: (acc * F.lit(1000003) + v)
                % F.lit(_M31).cast("long"),
            )
            for b in range(bands)
        ]
    )
    return sigs.filter(F.col("sz") > 0).select(
        "doc_id", F.posexplode(band_arr).alias("band", "bkt")
    )


def minhash_lsh_pairs(df: DataFrame, threshold: float,
                      num_perm: int = MINHASH_PERMS,
                      bands: int = LSH_BANDS, n: int = 3,
                      text: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Near-dup pairs (Jaccard ≥ threshold) via MinHash banding: the
    band-bucket self-join, then exact Jaccard over the shingle sets.
    """
    # the shingle frame feeds the signature fold AND both candidate-
    # verification joins; the signature frame feeds both sides of the
    # band self-join.  MEMORY_AND_DISK: both are far smaller than the
    # corpus and spill instead of recomputing when executors are
    # tight.  Left cached (no lazy-safe unpersist point); Spark's LRU
    # block manager reclaims them.
    sets_ = shingle_sets(df, n, text, id_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sigs = minhash_signatures_from_sets(
        sets_, num_perm, with_sh=False
    ).persist(StorageLevel.MEMORY_AND_DISK)
    cand = bucket_pairs(_band_buckets(sigs, num_perm, bands))
    return verify_pairs(cand, sets_, "sh", jaccard_col, "jaccard",
                        threshold)


def minhash_pairs_from_sigs(sigs: DataFrame, threshold: float,
                            num_perm: int = MINHASH_PERMS,
                            bands: int = LSH_BANDS,
                            other: DataFrame | None = None) -> DataFrame:
    """Verified near-dup pairs (Jaccard ≥ threshold) over stored
    ``minhash_signatures`` frames (doc_id, sig, sz, sh) — the reusable
    piece for incremental/streaming dedup, where signatures are
    computed once.  Alone: the pairs within ``sigs`` (id_a < id_b).
    With ``other``: the pairs between ``sigs`` (id_a) and ``other``
    (id_b) — a new batch probed against an accumulated signature
    index, whose stored side should be bucketed by (band, bkt) at
    index scale so the probe join prunes to matching buckets."""
    cand = bucket_pairs(
        _band_buckets(sigs, num_perm, bands),
        None if other is None else _band_buckets(other, num_perm, bands),
    )
    return verify_pairs(cand, sigs, "sh", jaccard_col, "jaccard",
                        threshold, other=other)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(df: DataFrame, text: str = "text",
            id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per document as two 32-bit words (hi, lo).

    Token hash = md5; bit j of the fingerprint is the sign of
    Σ_occurrences (±1 for bit j of the token hash) — weighting by
    occurrence count, exactly the former two-pass form (Σ over
    distinct tokens of cnt·±1 ≡ Σ over occurrences of ±1).

    ONE groupBy straight off the token explode (r15, guide §2.4): the
    former shape pre-aggregated (doc, token) counts first, which cost
    a second exchange and shuffled the corpus's distinct token stream;
    here map-side partial aggregation collapses each doc to a single
    64-sum row before the only exchange, so the shuffle carries
    docs × 64 longs ≈ the signature frame itself (measured at sf0.1:
    2.60 MB → 0.96 MB shuffle, wall −19%, identical output).  No
    ``spread``: the one-task fixture scan measured cheaper
    (plans/sizing.py).
    """
    ex = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(text)).alias("tok"),
    )
    hi = F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(F.md5("tok"), 9, 8), 16, 10).cast("long")
    tok = ex.select("doc_id", hi.alias("h_hi"), lo.alias("h_lo"))

    def bit_sum(word: Column, j: int) -> Column:
        on = F.shiftright(word, j).bitwiseAND(F.lit(1)) == 1
        return F.sum(F.when(on, F.lit(1)).otherwise(F.lit(-1)))

    aggs = [bit_sum(F.col("h_hi"), j).alias(f"hi{j}") for j in range(32)]
    aggs += [bit_sum(F.col("h_lo"), j).alias(f"lo{j}") for j in range(32)]
    sums = tok.groupBy("doc_id").agg(*aggs)

    def fold(prefix: str) -> Column:
        out = F.lit(0).cast("long")
        for j in range(32):
            out = out + F.when(
                F.col(f"{prefix}{j}") > 0, F.lit(1 << j).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        return out

    return sums.select(
        "doc_id",
        fold("hi").alias("sim_hi"),
        fold("lo").alias("sim_lo"),
    )


def simhash_pairs(df: DataFrame, max_hamming: int = 6,
                  text: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Pairs with SimHash hamming distance ≤ max_hamming.

    Blocking: the 64 bits split into 4 16-bit bands; hamming ≤ 3
    guarantees an equal band (pigeonhole), and for the fixture
    threshold we probe all 4 bands, so only near-identical docs ever
    meet in the join.  Distance is bit_count(xor) on the two words.
    """
    sh = simhash(df, text, id_col)
    # 16-bit bands straight off the two 32-bit words (no 64-bit value:
    # hi*2^32 would overflow signed long under ANSI mode)
    bands_ = F.array(
        *[
            F.shiftright(F.col(word), off).bitwiseAND(
                F.lit(0xFFFF).cast("long")
            )
            for word in ("sim_lo", "sim_hi")
            for off in (0, 16)
        ]
    )
    blk = sh.select(
        "doc_id", "sim_hi", "sim_lo",
        F.posexplode(bands_).alias("band", "bkt"),
    )
    ham = F.bit_count(
        F.col("a.sim_hi").bitwiseXOR(F.col("b.sim_hi"))
    ) + F.bit_count(F.col("a.sim_lo").bitwiseXOR(F.col("b.sim_lo")))
    return bucket_pairs(blk, extra=[ham.alias("hamming")]).filter(
        F.col("hamming") <= max_hamming
    )


# ---------------------------------------------------------------------------
# embedding-cosine near-dup (exact baseline)
# ---------------------------------------------------------------------------

def embedding_near_dup(emb: DataFrame, threshold: float,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding") -> DataFrame:
    """All pairs with cosine ≥ threshold — exact quadratic baseline.

    Vectors are L2-normalized once up front, so the pair predicate is
    a plain dot product.  This is the correctness baseline; at corpus
    scale use ``similarity.rp_lsh_candidates`` to bucket first.
    """
    # exchange barrier: materialize the normalized arrays BEFORE the
    # quadratic join, else CollapseProject inlines the normalize
    # transform into the nested-loop join and re-evaluates it per PAIR
    nd = normalized_vectors(emb, id_col, vec_col).repartition(
        emb.sparkSession.sparkContext.defaultParallelism, "vid"
    )
    a, b = nd.alias("a"), nd.alias("b")
    cos = _dot(F.col("a.nv"), F.col("b.nv"))
    return (
        a.join(b, F.col("a.vid") < F.col("b.vid"))
        .select(
            F.col("a.vid").alias("id_a"),
            F.col("b.vid").alias("id_b"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


NEAR_DUP_BLOCK_ROWS = 512


def embedding_near_dup_blocked(
    emb: DataFrame, threshold: float, id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_rows: int = NEAR_DUP_BLOCK_ROWS,
    n_blocks: int | None = None,
) -> DataFrame:
    """Exact cosine near-dup pairs via distributed blocked GEMM.

    At a low threshold on an unstructured corpus the O(N²) pair space
    is inherent to EXACT output (no blocking scheme can prune pairs
    near the threshold — see similarity.near_dup_lsh's docstring for
    the math), so the scalable exact form is the one dense linear
    algebra uses: tile the corpus into B row-blocks, ship each block
    pair (i ≤ j) to one task, and evaluate the whole tile with a
    single float64 matrix multiply.  Versus the nested-loop pair join
    this (a) replaces per-pair interpreted dot products with one BLAS
    GEMM per tile (~100× constant factor), (b) bounds task memory by
    ``block_rows`` regardless of N, and (c) makes the shuffle
    N·B·dim·8 bytes — the unavoidable replication of a block-matrix
    self-product, with no BroadcastNestedLoopJoin anywhere.  For
    corpora where near-dups are actually near (cosine ≥ ~0.8), use
    ``similarity.near_dup_lsh`` — candidates-then-verify, linear-ish.

    ``n_blocks`` defaults to ⌈N / block_rows⌉ via one id-only count
    (metadata-cheap; pass it explicitly in pipelines that know N).
    """
    nd = normalized_vectors(emb, id_col, vec_col)
    if n_blocks is None:
        n = emb.select(id_col).count()
        n_blocks = max(1, -(-int(n) // block_rows))
    B = n_blocks
    thr = float(threshold)

    # block k replicates to every unordered pair {k, j}: pair (i, j)
    # with i < j receives blocks i and j once each; (i, i) receives
    # block i exactly once (the j == k case)
    staged = nd.withColumn(
        "_blk", F.pmod(F.xxhash64("vid"), F.lit(B)).cast("int")
    )
    pair_keys = F.array(
        *[
            F.struct(
                F.least(F.col("_blk"), F.lit(j)).alias("pi"),
                F.greatest(F.col("_blk"), F.lit(j)).alias("pj"),
            )
            for j in range(B)
        ]
    )
    exploded = staged.select(
        "vid", "nv", "_blk", F.explode(pair_keys).alias("_p")
    ).select("vid", "nv", "_blk", "_p.pi", "_p.pj")

    out_schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def gemm_tile(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pi, pj = key
        a = pdf[pdf["_blk"] == pi]
        b = pdf[pdf["_blk"] == pj] if pj != pi else a
        if not len(a) or not len(b):
            return pd.DataFrame(columns=["id_a", "id_b", "cosine"])
        A = np.array(a["nv"].tolist(), dtype=np.float64)
        Bm = np.array(b["nv"].tolist(), dtype=np.float64)
        S = A @ Bm.T
        ia, jb = np.nonzero(S >= thr)
        va = a["vid"].to_numpy()[ia].astype(np.int64)
        vb = b["vid"].to_numpy()[jb].astype(np.int64)
        cos = S[ia, jb]
        if pi == pj:  # tile contains both orientations + the diagonal
            m = va < vb
            va, vb, cos = va[m], vb[m], cos[m]
        else:  # disjoint hash blocks: orient each pair id_a < id_b
            lo = np.minimum(va, vb)
            vb = np.maximum(va, vb)
            va = lo
        return pd.DataFrame(
            {"id_a": va, "id_b": vb, "cosine": cos}
        )

    return exploded.groupBy("pi", "pj").applyInPandas(
        gemm_tile, out_schema
    )


# auto-routing bounds for embedding_near_dup_pairs: above this corpus
# size the O(N²·d) exact tile product stops being a defensible default
# (at 10⁹ vectors the pair space is 5·10¹⁷ — no cluster runs it), and
# below this cosine threshold hyperplane-LSH banding cannot reach
# recall ≈ 1 no matter the parameters (see similarity.near_dup_lsh's
# recall math), so exactness genuinely requires the GEMM
EXACT_MAX_DOCS = 200_000
LSH_MIN_THRESHOLD = 0.8


def embedding_near_dup_pairs(
    emb: DataFrame, threshold: float, id_col: str = "vec_id",
    vec_col: str = "embedding", exact: bool | None = None,
    corpus_count: int | None = None,
) -> DataFrame:
    """Embedding near-dup pairs with scale-aware routing — THE entry
    point composed pipelines should call: the exact blocked-GEMM tile
    product (O(N²·d)) up to EXACT_MAX_DOCS, the random-hyperplane LSH
    path (``similarity.near_dup_lsh``, recall ≈ 1 only for cosine
    ≥ ~0.8) past it at ``threshold ≥ LSH_MIN_THRESHOLD`` (see
    :func:`_route_lsh`)."""
    use_lsh, n = _route_lsh(
        "embedding_near_dup_pairs", exact, corpus_count,
        emb.select(id_col), threshold, EXACT_MAX_DOCS,
        LSH_MIN_THRESHOLD,
    )
    if use_lsh:
        from mapreduce_spark.extensions.similarity import near_dup_lsh

        return near_dup_lsh(emb, threshold, id_col, vec_col)
    # a count that routed the corpus as small also sizes the tiles
    small = n is not None and n <= EXACT_MAX_DOCS
    return embedding_near_dup_blocked(
        emb, threshold, id_col, vec_col,
        n_blocks=max(1, -(-n // NEAR_DUP_BLOCK_ROWS)) if small else None,
    )


SEMANTIC_MAX_CELL = 20_000


def semantic_dedup(emb: DataFrame, threshold: float,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   n_cells: int | None = None,
                   keep: str = "central",
                   max_cell: int = SEMANTIC_MAX_CELL,
                   corpus_count: int | None = None) -> DataFrame:
    """SemDeDup-style semantic pruning (Abbas et al. 2023, "SemDeDup:
    Data-efficient learning at web-scale through semantic
    deduplication" — public paper): k-means-cluster the embedding
    space, then greedily suppress items whose cosine to an
    already-kept item in the SAME cluster reaches ``threshold``.

    Unlike :func:`embedding_near_dup_pairs` (which materializes the
    full pair graph for downstream CC), this is corpus → pruned corpus
    in one pass: the quadratic work is confined to within-cluster
    tiles, so total cost is O(N · cell_size · d) with cell_size bounded
    by ``max_cell`` — never an all-pairs product.

    - Clustering reuses the IVF quantizer (``similarity.ivf_centroids``
      + the Arrow-batched cell assignment): one training sample, one
      distributed assignment pass.
    - Each cell is pruned independently in one ``applyInPandas`` task:
      members are visited in deterministic order (``keep="central"``:
      by descending cosine-to-centroid — the most typical exemplar of
      each semantic group survives; ``keep="diverse"``: ascending, the
      paper's low-similarity-to-centroid rule — ties broken by id) and
      an item is kept iff its max cosine against the kept set so far
      is below ``threshold`` (one BLAS matvec per item).
    - Cells larger than ``max_cell`` are hash-sub-split first (driven
      by a broadcast per-cell size map), bounding task memory at
      ``max_cell · dim`` doubles regardless of corpus skew.  Dups that
      straddle a sub-split (or a cell boundary — inherent to SemDeDup)
      both survive; the same bounded-miss trade LSH banding makes.

    Returns one row per vector: ``(vid, cell, fit, is_dup, kept_by)``
    — ``fit`` the cosine to its centroid, ``kept_by`` the suppressing
    kept vector's id (self for keepers, matching exact_dedup's
    canonical-member convention).  Filter ``~is_dup`` for survivors.
    """
    if keep not in ("central", "diverse"):
        raise ValueError(
            f"semantic_dedup: keep must be 'central' or 'diverse', "
            f"got {keep!r}"
        )
    from mapreduce_spark.extensions import similarity as sim

    nd = normalized_vectors(emb, id_col, vec_col)
    if n_cells is None:
        n = (int(corpus_count) if corpus_count is not None
             else emb.select(id_col).count())
        n_cells = sim._sqrt_cells(n)
    cents = sim.ivf_centroids(
        emb, n_cells, id_col=id_col, vec_col=vec_col, nd=nd
    )
    fit = sim._cell_fit(cents)
    assigned = (
        sim._assign_cells(nd, cents)
        .withColumn("fit", fit(F.col("nv"), F.col("cell")))
    )
    # bound the per-task group: sub-split any cell beyond max_cell.
    # cell size via an unbounded window, NOT a groupBy+join — the join
    # shape would reference the assignment subtree twice and evaluate
    # the corpus-wide pandas UDF two times; the window rides the same
    # by-cell exchange the applyInPandas needs anyway
    staged = assigned.withColumn(
        "_sub",
        F.pmod(
            F.xxhash64("vid"),
            F.greatest(
                F.ceil(
                    F.count(F.lit(1)).over(Window.partitionBy("cell"))
                    / F.lit(int(max_cell))
                ),
                F.lit(1),
            ),
        ).cast("int"),
    )
    thr = float(threshold)
    central = keep == "central"
    out_schema = T.StructType([
        T.StructField("vid", T.LongType()),
        T.StructField("cell", T.IntegerType()),
        T.StructField("fit", T.DoubleType()),
        T.StructField("is_dup", T.BooleanType()),
        T.StructField("kept_by", T.LongType()),
    ])

    def prune(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vid"].to_numpy(dtype=np.int64)
        fits = pdf["fit"].to_numpy(dtype=np.float64)
        M = np.array(pdf["nv"].tolist(), dtype=np.float64)
        # deterministic visit order: fit desc (central) / asc
        # (diverse), id-asc tie-break (lexsort: last key is primary)
        order = np.lexsort((ids, -fits if central else fits))
        m, d = M.shape
        K = np.empty((m, d))        # kept vectors, insertion order
        kept_ids = np.empty(m, dtype=np.int64)
        nk = 0
        is_dup = np.zeros(m, dtype=bool)
        kept_by = np.empty(m, dtype=np.int64)
        for i in order:
            if nk:
                s = K[:nk] @ M[i]
                j = int(np.argmax(s))
                if s[j] >= thr:
                    is_dup[i] = True
                    kept_by[i] = kept_ids[j]
                    continue
            K[nk] = M[i]
            kept_ids[nk] = ids[i]
            nk += 1
            kept_by[i] = ids[i]
        return pd.DataFrame({
            "vid": ids,
            "cell": pdf["cell"].to_numpy(dtype=np.int32),
            "fit": fits,
            "is_dup": is_dup,
            "kept_by": kept_by,
        })

    return staged.groupBy("cell", "_sub").applyInPandas(
        prune, out_schema
    )


# ---------------------------------------------------------------------------
# duplicate clustering — connected components over the near-dup graph
# ---------------------------------------------------------------------------
#
# Pair generation (minhash_lsh_pairs & friends) answers "which pairs
# are near-dups"; a real dedup pipeline then needs "which GROUP does
# each doc belong to" so it can keep one representative per group.
# That is connected components over the pair graph.  The algorithm is
# the alternating large-star / small-star method of Kiveris et al.,
# "Connected Components in MapReduce and Beyond" (ACM SoCC 2014, public
# paper): each round is two hash-shuffle stages (a groupBy-min and a
# re-keyed emit), the edge set only ever shrinks toward a star forest,
# and convergence takes O(log² n) rounds (O(log n) in practice — 3-4
# rounds on real dup graphs, whose components are tiny and star-like
# almost immediately).  No vertex ever needs its whole component in
# memory, so the operator scales to any component shape that fits the
# cluster, unlike label-propagation-until-fixpoint which needs
# diameter-many rounds.


def _large_star(e: DataFrame) -> DataFrame:
    """One large-star round: for every node u, connect every strictly
    LARGER neighbor to m(u) = min(Γ(u) ∪ {u})."""
    sym = e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = sym.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("m")
    )
    return (
        sym.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """One small-star round: orient edges big→small, then connect every
    smaller-or-equal neighbor (and u itself) to m(u)."""
    oriented = (
        e.filter(F.col("src") != F.col("dst"))
        .select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        .distinct()
    )
    mins = oriented.groupBy("src").agg(F.min("dst").alias("m"))
    nbrs = oriented.join(mins, "src").select(
        F.col("dst").alias("src"), F.col("m").alias("dst")
    )
    selfs = mins.select("src", F.col("m").alias("dst"))
    return (
        nbrs.union(selfs)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def connected_components(edges: DataFrame, src: str = "id_a",
                         dst: str = "id_b",
                         max_iter: int = 25) -> DataFrame:
    """(node, root) for every node of ``edges``: root = the minimum
    node id of the node's connected component (roots map to
    themselves).

    Alternating large-star/small-star until the edge-set fingerprint
    (count + xxhash64 bit_xor — detection only, never in the output) is
    stable.  Interleaved pointer doubling was measured in round 14 as a
    loss (pure 83.2 s vs jump-interleaved 94.3 s on the 10M-edge
    megatree) and removed by the commit after 37e4000 ("Delete the
    rejected levers and the one-off rehearsal tools").  Each round is
    localCheckpoint()ed so the iterative plan
    doesn't grow without bound (on a real cluster this is a reliable
    checkpoint to the cluster FS — same call shape), and the previous
    round's blocks are released once the new round materializes, so
    executor storage holds at most TWO edge frames however many
    rounds convergence takes.

    The per-round checkpoint is LAZY: the convergence-fingerprint agg
    is the round's first action, so it materializes the checkpoint and
    reads the fingerprint in ONE job instead of two (measured round 8:
    at sf0.1 the whole loop is scheduling-latency-bound — ~1.3 s for
    256 edges over ~2 rounds of AQE-staged shuffles, with AQE OFF
    *worse* at ~2.0 s because 32 full-width task waves replace the
    coalesced ones — so fewer jobs is the only lever that matters at
    small scale, and at 100 TB the checkpoint write dominates either
    way).
    """
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select("dst"))
        .distinct()
    )
    prev = None
    prev_frame = None
    for _ in range(max_iter):
        new = _small_star(_large_star(e)).localCheckpoint(eager=False)
        n, h = new.agg(
            F.count("*"), F.bit_xor(F.xxhash64("src", "dst"))
        ).first()
        # round N-1's checkpoint blocks are dead the moment round N
        # materialized (the fingerprint agg above) — releasing them
        # bounds executor storage at TWO edge frames (input + latest)
        # instead of O(rounds × edges), which OOM'd the 100M-edge
        # skew rehearsal at ~10 retained rounds (round 13).  The
        # INPUT checkpoint stays: `nodes` reads it in the final join.
        # NB: DataFrame.unpersist() silently no-ops on checkpoint
        # blocks — see util.release_local_checkpoint.
        if prev_frame is not None:
            release_local_checkpoint(prev_frame)
        prev_frame = new
        e = new
        if prev == (n, h):
            break
        prev = (n, h)
    # fixed points of the alternation are star forests rooted at the
    # component minimum: every non-root has exactly one (node → root)
    # edge, roots have none
    links = e.select(
        F.col("src").alias("node"), F.col("dst").alias("root")
    )
    return nodes.join(links, "node", "left").select(
        "node", F.coalesce("root", "node").alias("root")
    )


def duplicate_clusters(df: DataFrame, threshold: float,
                       num_perm: int = MINHASH_PERMS,
                       bands: int = LSH_BANDS, n: int = 3,
                       text: str = "text", id_col: str = "doc_id",
                       pairs: DataFrame | None = None) -> DataFrame:
    """(doc_id, cluster_id, cluster_size) for every document in at
    least one verified near-dup pair: cluster_id = the minimum doc_id
    of its connected component of the MinHash-LSH pair graph.  A
    keep-one-per-group dedup is then ``filter(doc_id = cluster_id)``
    (plus all the singletons that never appear here).

    ``pairs`` overrides the edge source (e.g. simhash_pairs or an
    embedding near-dup frame with id_a/id_b columns).
    """
    e = (
        pairs
        if pairs is not None
        else minhash_lsh_pairs(df, threshold, num_perm, bands, n,
                               text, id_col)
    )
    labels = connected_components(e, "id_a", "id_b")
    w = Window.partitionBy("cluster_id")
    return (
        labels.select(
            F.col("node").alias(id_col),
            F.col("root").alias("cluster_id"),
        )
        .withColumn("cluster_size", F.count("*").over(w))
    )


def cluster_representatives(labels: DataFrame, quality: DataFrame,
                            id_col: str = "doc_id",
                            cluster_col: str = "cluster_id",
                            quality_col: str = "quality",
                            ) -> DataFrame:
    """``labels`` + a ``keep`` flag: within each duplicate cluster,
    keep the HIGHEST-QUALITY member (ties → lowest id) instead of the
    arbitrary min-id representative.

    Real pretraining dedup keeps the best copy of a duplicated page
    (longest/cleanest extraction), not the smallest id — this is the
    selection stage between :func:`duplicate_clusters` and the final
    corpus filter (``keep`` plus every singleton never in a pair).

    One window over the cluster key (row_number, fully deterministic:
    quality DESC NULLS LAST, id ASC) sharing the exchange the
    cluster_size window already established — no extra shuffle at
    scale beyond the broadcast-ready quality join.

    The quality join is LEFT: a cluster member missing from the
    quality frame (e.g. quality computed over a filtered subset) is
    NEVER silently dropped from the output — it keeps its row, sorts
    after every scored member, and can still be the representative if
    no member of its cluster has a score (review r13: an inner join
    here made 'keep + singletons' dedup silently delete documents)."""
    w = (
        Window.partitionBy(cluster_col)
        .orderBy(F.col(quality_col).desc_nulls_last(),
                 F.col(id_col).asc())
    )
    return (
        labels.join(quality.select(id_col, quality_col), id_col,
                    "left")
        .withColumn("keep", F.row_number().over(w) == 1)
        .drop(quality_col)
    )
