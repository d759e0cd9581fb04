"""Benchmark decontamination + corpus-repeated n-gram signals.

Two training-data-pipeline operators every large pretraining corpus
needs before a token reaches a model:

- :func:`contamination` — per-document n-gram overlap against a
  benchmark/eval set, the standard test-set-leak check (n-gram
  decontamination as popularized by the GPT-3 and PaLM data cards):
  a document whose shingles overlap an eval benchmark above a
  threshold must be dropped or the benchmark score is fiction.
- :func:`repeated_ngrams` — per-document fraction of n-grams that
  recur elsewhere in the CORPUS (document frequency ≥ ``min_df``),
  the boilerplate/template signal (CCNet-style duplicated-content
  scoring) that catches nav bars, license headers, and mirror spam
  that per-document dedup misses.

100 TB design notes (both operators):

- shingling stays in :func:`mapreduce_spark.extensions.text.shingles`
  — a pure-JVM ``transform`` over token offsets, no Python workers;
- ``contamination`` does ONE wide shuffle (the per-doc re-group).
  The benchmark side is distinct-aggregated and broadcast by default:
  eval sets are MBs against a corpus of TBs, so the membership probe
  is a map-side hash lookup, never a corpus-wide exchange on the
  n-gram key (pass ``broadcast_benchmark=False`` for the rare huge
  blocklist, which falls back to a shuffle join that AQE skew-splits);
- ``repeated_ngrams`` is the classic count-then-join-back shape:
  ``groupBy(gram).count()`` (map-side partial aggregation collapses a
  hot stopword gram to ≤ one row per task BEFORE the exchange — the
  same skew absorption the grouped-reduce path measures in
  BASELINE.md), an AQE-managed join of the postings against the
  ``df ≥ min_df`` grams, and the per-doc re-group: three exchanges,
  no window buffering of hot keys, no all-pairs anywhere.

Both return one row per input document (documents shorter than one
n-gram window report zero totals, not a dropped row).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreduce_spark.extensions.text import shingles
from mapreduce_spark.plans.sizing import spread


def _postings(docs: DataFrame, n: int, text: str,
              id_col: str) -> DataFrame:
    """(doc_id, g) — one row per DISTINCT n-gram per document, plus a
    null-gram row for too-short documents so they survive the
    re-group with zero counts."""
    return spread(docs).select(
        F.col(id_col).alias("doc_id"),
        F.explode_outer(shingles(n, text)).alias("g"),
    )


def contamination(docs: DataFrame, benchmark: DataFrame, n: int = 8,
                  text: str = "text", id_col: str = "doc_id",
                  broadcast_benchmark: bool = True) -> DataFrame:
    """Per-document benchmark overlap:
    ``(doc_id, ngrams, contam_hits, contamination)`` where
    ``contamination = contam_hits / ngrams`` over the document's
    distinct word n-grams (0.0 for documents with no full window).

    ``benchmark`` is any frame with the same ``text`` column (the
    eval set to protect).  Matching is exact n-gram membership — the
    conservative standard; containment-style fuzzier checks belong to
    the jaccard/minhash family ops.
    """
    bench = benchmark.select(
        F.explode(shingles(n, text)).alias("g")
    ).distinct().withColumn("_hit", F.lit(1))
    if broadcast_benchmark:
        bench = F.broadcast(bench)
    ex = _postings(docs, n, text, id_col)
    per = ex.join(bench, "g", "left").groupBy("doc_id").agg(
        F.count("g").alias("ngrams"),
        F.count("_hit").alias("contam_hits"),
    )
    return per.select(
        "doc_id", "ngrams", "contam_hits",
        F.when(F.col("ngrams") > 0,
               F.col("contam_hits") / F.col("ngrams"))
        .otherwise(F.lit(0.0)).alias("contamination"),
    )


def repeated_ngrams(docs: DataFrame, n: int = 8, min_df: int = 2,
                    text: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Per-document corpus-repetition:
    ``(doc_id, ngrams, rep_hits, rep_fraction)`` where ``rep_hits``
    counts the document's distinct n-grams whose corpus document
    frequency is ≥ ``min_df`` (the gram appears in that many
    documents — per-doc distinctness makes count == df).

    The postings frame feeds BOTH the df count and the membership
    join; persisted so the shingle explode runs once (the lazy form
    re-shingled the corpus twice — AQE's broadcast of the df side
    defeats the exchange reuse that would otherwise dedupe the two
    scans).  Spark's LRU block manager reclaims the blocks; at scale
    they spill to local disk like the minhash shingle frame."""
    from pyspark import StorageLevel

    ex = _postings(docs, n, text, id_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    rep = ex.groupBy("g").count() \
        .filter(F.col("count") >= min_df) \
        .select("g", F.lit(1).alias("_rep"))
    per = ex.join(rep, "g", "left").groupBy("doc_id").agg(
        F.count("g").alias("ngrams"),
        F.count("_rep").alias("rep_hits"),
    )
    return per.select(
        "doc_id", "ngrams", "rep_hits",
        F.when(F.col("ngrams") > 0,
               F.col("rep_hits") / F.col("ngrams"))
        .otherwise(F.lit(0.0)).alias("rep_fraction"),
    )
