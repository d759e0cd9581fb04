"""Streaming deduplication for document ingest pipelines.

The reference has no streaming story at all (SURVEY.md §2 M-row); a
training-data pipeline ingesting a document stream needs two dedup
shapes the batch operators (extensions/dedup.py) don't cover:

- **stream_exact_dedup** — exact content dedup over a stream via
  Spark's stateful ``dropDuplicates``.  With an event-time column the
  state is TTL-bounded (``dropDuplicatesWithinWatermark``): a
  duplicate arriving within the watermark delay is dropped, state
  older than the watermark is evicted — the honest trade at unbounded
  stream scale, where "dedup against all of history" belongs to the
  index-backed operator below.  The same call on a batch frame is the
  deterministic keep-first rule (earliest event time, then smallest
  id), which is how tests pin stream output to a batch oracle.
- **incremental_minhash_dedup** — NEAR-dup dedup against all of
  history, as a ``foreachBatch`` sink maintaining a MinHash signature
  index: each micro-batch is (1) probed against the accumulated index
  (``minhash_pairs_from_sigs`` with the index as its second frame),
  (2) internally clustered (connected components, min-id
  representative), and (3) the surviving novel docs are appended to
  the index.  State is the signature index
  itself — O(unique docs), stored as parquet, never per-stream-row
  state-store entries.

Scale notes: the signature index holds (doc_id, sig[96], sz, sh); at
corpus scale it should be written bucketed/partitioned by band bucket
so the per-batch probe join prunes to matching buckets, and the
shingle sets (the verification payload) can live in a side table
fetched only for candidates.  The micro-batch work is O(|batch| +
candidates), independent of stream history length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mapreduce_spark.extensions.dedup import (
    LSH_BANDS,
    MINHASH_PERMS,
    connected_components,
    minhash_pairs_from_sigs,
    minhash_signatures,
)


def stream_exact_dedup(df: DataFrame, *, text: str = "text",
                       id_col: str = "doc_id",
                       ts_col: str | None = None,
                       watermark: str = "1 hour") -> DataFrame:
    """Exact content dedup, unified over batch and streaming frames.

    Adds ``fp = md5(text)`` and keeps one row per fingerprint:

    - streaming + ``ts_col``: watermarked
      ``dropDuplicatesWithinWatermark`` — state TTL-bounded, drops
      duplicates that arrive within the watermark delay;
    - streaming, no ``ts_col``: plain stateful ``dropDuplicates``
      (state grows with unique docs — document-scale only);
    - batch: deterministic keep-first (earliest ``ts_col`` if given,
      then smallest ``id_col``) so stream runs can be checked against
      a batch oracle.
    """
    out = df.withColumn("fp", F.md5(F.col(text)))
    if out.isStreaming:
        if ts_col is not None:
            from mapreduce_spark.streaming.windows import watermarkable

            src, _ = watermarkable(out, ts_col)
            return src.withWatermark(
                ts_col, watermark
            ).dropDuplicatesWithinWatermark(["fp"])
        return out.dropDuplicates(["fp"])
    order = (
        [F.col(ts_col).asc()] if ts_col is not None else []
    ) + [F.col(id_col).asc()]
    w = Window.partitionBy("fp").orderBy(*order)
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def incremental_minhash_dedup(index_dir: str, threshold: float, *,
                              num_perm: int = MINHASH_PERMS,
                              bands: int = LSH_BANDS, n: int = 3,
                              text: str = "text",
                              id_col: str = "doc_id"):
    """``foreachBatch`` handle maintaining a near-dup-free corpus.

    Per micro-batch, the deterministic two-step rule: (1) drop every
    doc with a verified near-dup (exact Jaccard ≥ threshold on LSH
    candidates) already in the index; (2) cluster the remainder among
    themselves — connected components of their pair graph — and keep
    only the min-id representative of each component.  (Step 2 is the
    standard whole-component collapse, deliberately stricter than
    greedy first-wins on chains a~b~c where a≁c: one representative
    per component, matching the batch ``duplicate_clusters``
    semantics.)  Tests check the kept set against a driver-side
    replay of the same two-step rule over exact pairs.

    Usage::

        handle = incremental_minhash_dedup("/path/idx", 0.5)
        stream.writeStream.foreachBatch(handle).start()

    The handle also runs on plain batch frames (call it directly) —
    that is both the test surface and the backfill path.
    """

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.errors import AnalysisException

        spark = batch_df.sparkSession
        sigs = minhash_signatures(
            batch_df, num_perm, n, text, id_col
        ).persist()
        try:
            try:
                idx = spark.read.parquet(index_dir)
                # a RETRY of this micro-batch (foreachBatch is
                # at-least-once) must not see its own partial output
                # as "history", or every retried doc would probe as
                # its own duplicate
                idx = idx.filter(F.col("batch_id") != batch_id)
                have_index = True
            except AnalysisException:  # first batch: no index yet
                have_index = False
            cur = sigs
            if have_index:
                hit = (
                    minhash_pairs_from_sigs(
                        cur, threshold, num_perm, bands, other=idx
                    )
                    .select(F.col("id_a").alias("doc_id"))
                    .distinct()
                )
                cur = cur.join(hit, "doc_id", "left_anti")
            pairs = minhash_pairs_from_sigs(
                cur, threshold, num_perm, bands
            )
            dups = (
                connected_components(pairs, "id_a", "id_b")
                .filter(F.col("node") != F.col("root"))
                .select(F.col("node").alias("doc_id"))
            )
            kept = cur.join(dups, "doc_id", "left_anti")
            # dynamic partition overwrite keyed by batch_id makes a
            # micro-batch retry IDEMPOTENT: the retry replaces only
            # its own partition, never appending duplicates
            (
                kept.select("doc_id", "sig", "sz", "sh")
                .withColumn("batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(index_dir)
            )
        finally:
            sigs.unpersist()

    return handle
