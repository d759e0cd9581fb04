"""Driver-contract inventory for the training-data extensions.

Every entry returns typed columns (no JSON envelope — these are
corpus-level operators, not view queries) and, where the operator is
deterministic, pairs with a DuckDB oracle that recomputes the SAME
md5-based definition in SQL — so MinHash/SimHash/fingerprint pipelines
are value-checked end to end, not just row-counted.

``x_sim_lsh`` / ``x_sim_ivf`` are approximate by design; their
driver-checkable form is per-query recall@k against the engine's exact
top-k (itself value-checked via ``x_sim_topk``), asserted against a
fixed floor — so the CORRECTNESS rows are real pass/fail checks, not
``no_oracle``.  Aggregate recall is additionally asserted in
tests/test_extensions.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_spark.extensions import (
    decontam,
    dedup,
    multimodal,
    sampling,
    similarity,
    text,
)
from mapreduce_spark.extensions.util import normalized_vectors
from mapreduce_spark.plans.sizing import spread

JACCARD_T = 0.5
# deterministic pseudo-benchmark for the decontamination check: every
# 41st document plays the eval set (arbitrary prime, oracle-replicable)
BENCH_MOD = 41
COSINE_T = 0.4
TOPK_QUERIES = [0, 1, 2, 3, 4]
TOPK_K = 10

_BPE_SQL = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
_STOP_EN = text.LANG_STOPWORDS["en"]


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def x_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread at the call site: quality_features itself is a
    # plan-pinned pure map (no exchange), but the one-file fixture
    # scan serializes its string work onto a single task
    return text.quality_features(spread(_docs(spark, sf_dir)))


def x_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.add_lang_id(_docs(spark, sf_dir)).select(
        "doc_id", "pred_lang",
        F.round("score", 4).alias("score"),
    )


def x_text_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.fingerprints(_docs(spark, sf_dir))


def x_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination over the deterministic pseudo-eval
    subset (doc_id % BENCH_MOD == 0); n=3 matches the fixture's short
    docs and the shared _SHINGLES oracle macro (production default is
    the GPT-3-style n=8)."""
    d = _docs(spark, sf_dir)
    out = decontam.contamination(
        d, d.filter(F.col("doc_id") % BENCH_MOD == 0), n=3
    )
    return out.select(
        "doc_id", "ngrams", "contam_hits",
        F.round("contamination", 4).alias("contamination"),
    )


def x_rep_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-repeated n-gram (boilerplate) fractions, df >= 2."""
    out = decontam.repeated_ngrams(
        _docs(spark, sf_dir), n=3, min_df=2
    )
    return out.select(
        "doc_id", "ngrams", "rep_hits",
        F.round("rep_fraction", 4).alias("rep_fraction"),
    )


def _pii_augmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic PII augmentation for the oracle row.

    The fixture corpus carries no natural PII/URLs (verified: zero
    matches corpus-wide), so a raw-text oracle row would be a
    degenerate all-zeros check.  Following the decontamination row's
    pseudo-eval pattern, BOTH engines append the same synthetic
    contact block in-query — emails, an IPv4, a phone, a URL, all
    derived from doc_id — so detection counts and redaction are
    value-checked on non-trivial, varying output (including zero-PII
    docs via the % 3 gate and multi-match docs via the % 5 gate).
    """
    i = F.col("doc_id")

    def s(c):  # noqa: ANN001 — Column → string cast shorthand
        return c.cast("string")

    aug = F.concat(
        F.col("text"),
        F.when(i % 3 != 2, F.concat(
            F.lit(" contact u"), s(i), F.lit("@example.org ip 10."),
            s(i % 256), F.lit("."), s((i * 7) % 256), F.lit("."),
            s(i % 200), F.lit(" tel (555) "), s(i % 900 + 100),
            F.lit("-"), s(i % 9000 + 1000), F.lit(" see https://ex"),
            s(i % 10), F.lit(".example.com/d/"), s(i),
        )).otherwise(F.lit("")),
        F.when(i % 5 == 0, F.concat(
            F.lit(" cc admin"), s(i), F.lit("@example.net"),
        )).otherwise(F.lit("")),
    )
    return spread(_docs(spark, sf_dir)).select(
        "doc_id", aug.alias("text")
    )


def x_text_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection counts + redaction digest over the augmented
    corpus (text.pii_features / text.redact_pii; single-scan JVM
    regex, dialect-verified against the DuckDB oracle)."""
    p = text.pii_features(_pii_augmented(spark, sf_dir))
    return p.select(
        "doc_id", "n_emails", "n_ipv4", "n_phones", "n_urls",
        F.md5("text_redacted").alias("redacted_md5"),
    )


def x_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality stats + language-ID + fingerprints + repetition +
    decontamination + corpus-boilerplate + PII-scrub signals joined
    on doc_id —
    the text-analysis operators value-checked in one driver row
    (round-6 repack of the 50-row CORRECTNESS budget).  Each operator
    is still a narrow single-scan JVM map (the round-8 decontam pair
    adds the two documented shuffles); the joins are same-source
    equi-joins that AQE turns broadcast at oracle scale."""
    s = x_text_stats(spark, sf_dir)
    l = x_text_langid(spark, sf_dir)
    fp = x_text_fp(spark, sf_dir)
    rep = text.repetition_features(_docs(spark, sf_dir))
    con = x_decontam(spark, sf_dir) \
        .withColumnRenamed("ngrams", "ngrams3")
    rep3 = x_rep_ngrams(spark, sf_dir) \
        .select("doc_id", "rep_hits", "rep_fraction")
    pii = x_text_pii(spark, sf_dir)
    return s.join(l, "doc_id").join(fp, "doc_id").join(rep, "doc_id") \
        .join(con, "doc_id").join(rep3, "doc_id").join(pii, "doc_id")


def x_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(_docs(spark, sf_dir))


def x_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the routing entry point (round 8): at fixture scale it resolves
    # to the exact prefix-filtered AllPairs join the oracle replicates;
    # past JACCARD_EXACT_MAX_DOCS the same call routes to verified
    # MinHash-LSH (see dedup.jaccard_dedup_pairs)
    out = dedup.jaccard_dedup_pairs(_docs(spark, sf_dir), JACCARD_T)
    return out.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


def x_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = dedup.minhash_lsh_pairs(_docs(spark, sf_dir), JACCARD_T)
    return out.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


def x_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash(_docs(spark, sf_dir))


def x_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate GROUPS, not just pairs: connected components
    (alternating large-star/small-star) over the verified MinHash-LSH
    near-dup pair graph; cluster_id = min doc_id of the component,
    plus the round-13 ``keep`` flag — the highest-QUALITY member of
    each cluster (ties → lowest id), the representative a real
    pipeline retains.  Keep-best dedup is then ``keep`` plus the
    singletons.  Oracle: DuckDB recursive CTE computing the min
    reachable doc_id over the same exact-Jaccard pair graph + the
    same quality row_number."""
    d = _docs(spark, sf_dir)
    labels = dedup.duplicate_clusters(d, JACCARD_T)
    q = text.quality_features(d).select("doc_id", "quality")
    return dedup.cluster_representatives(labels, q)


def x_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    # scale-routed entry point (dedup.embedding_near_dup_pairs): at
    # fixture sizes (≤ EXACT_MAX_DOCS) it selects the exact blocked-
    # GEMM tiling — the only oracle-equal shape at this threshold
    # (0.4 sits in the bulk of the pair-cosine distribution, where
    # LSH banding cannot reach recall 1) — while corpora beyond the
    # documented cap route to the linear-ish LSH path by default
    # (tests/test_extensions.py pins the routing table)
    out = dedup.embedding_near_dup_pairs(_emb(spark, sf_dir), COSINE_T)
    return out.select(
        "id_a", "id_b", F.round("cosine", 4).alias("cosine")
    )


def x_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style within-cluster semantic pruning
    (dedup.semantic_dedup): k-means cells + per-cell greedy cosine
    suppression — corpus in, keep/suppress verdict out.  Bench-only
    row (the greedy rule is not SQL-expressible; the operator is
    pinned end-to-end against a numpy replica in
    tests/test_semantic_dedup.py)."""
    out = dedup.semantic_dedup(
        _emb(spark, sf_dir), 0.95, n_cells=16
    )
    return out.select(
        "vid", "cell", F.round("fit", 4).alias("fit"),
        "is_dup", "kept_by",
    )


def x_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = similarity.cosine_topk(
        _emb(spark, sf_dir), TOPK_QUERIES, TOPK_K
    )
    return out.select(
        "qid", "vid", F.round("cosine", 6).alias("cosine"), "rank"
    )


# per-query recall floor for the approximate ANN paths: both pipelines
# are fully deterministic (md5-seeded hyperplanes / k-means seeds), so
# recall at a given sf is a fixed number — measured minima at sf0.01
# are 0.4 (both paths); 0.25 leaves 1.6× margin while still failing on
# any real recall regression
ANN_RECALL_MIN = 0.25


def _recall_rows(approx: DataFrame, exact: DataFrame) -> DataFrame:
    """(qid, k, meets_min): recall@k of approx vs exact per query —
    the driver-checkable form of an approximate operator's contract
    (the exact side is itself value-checked via x_sim_topk)."""
    hits = (
        approx.join(
            exact.select("qid", "vid"), ["qid", "vid"], "left_semi"
        )
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("nhit"))
    )
    qids = exact.select("qid").distinct()
    return (
        qids.join(hits, "qid", "left")
        .select(
            "qid",
            F.lit(TOPK_K).cast("int").alias("k"),
            (
                F.coalesce(F.col("nhit"), F.lit(0)) / TOPK_K
                >= ANN_RECALL_MIN
            ).alias("meets_min"),
        )
    )


def x_sim_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # both pipelines (approx + the exact top-k it is scored against)
    # share one persisted normalized corpus — half the scan/normalize
    # work; Spark's LRU block manager reclaims it
    emb = _emb(spark, sf_dir)
    nd = normalized_vectors(emb).persist()
    return _recall_rows(
        similarity.rp_lsh_topk(emb, TOPK_QUERIES, TOPK_K, nd=nd),
        similarity.cosine_topk(emb, TOPK_QUERIES, TOPK_K, nd=nd),
    )


def x_sim_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    nd = normalized_vectors(emb).persist()
    return _recall_rows(
        similarity.ivf_topk(emb, TOPK_QUERIES, TOPK_K, nd=nd),
        similarity.cosine_topk(emb, TOPK_QUERIES, TOPK_K, nd=nd),
    )


def x_mm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = multimodal.documents_as_media(_docs(spark, sf_dir))
    feats = multimodal.extract_features(media)
    return feats.select(
        "media_id",
        "n_bytes",
        "byte_sum_mod",
        F.element_at("features", 1).alias("f_len"),
        F.element_at("features", 2).alias("f_sum64"),
        F.element_at("features", 3).alias("f_first"),
        F.element_at("features", 4).alias("f_last"),
    )


def x_mm_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode: docs → P6 PPM containers → decode_ppm →
    channel means; the oracle recomputes the pixels from text bytes."""
    media = multimodal.documents_as_ppm(_docs(spark, sf_dir))
    return multimodal.extract_image_features(media)


def x_mm_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode: docs → RIFF/PCM16 WAV → decode_wav →
    mean amplitude / RMS; oracle recomputes samples from text bytes."""
    media = multimodal.documents_as_wav(_docs(spark, sf_dir))
    return multimodal.extract_audio_features(media)


def x_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal probes (binary feature extraction, real PPM
    image decode, real zlib-PNG decode — round 10 — and real WAV
    audio decode) joined on media_id into one wide oracle row — all
    four operators stay value-checked every round while occupying a
    single slot of the driver's 50-row CORRECTNESS budget (round-6
    repack).  The PNG leg wraps the SAME raster as the PPM leg in a
    real compressed PNG container, so the oracle's pixel derivation
    from text bytes covers the full chunk-walk/inflate/unfilter
    decode path.  Same-source equi-joins go broadcast/AQE at this
    cardinality; at scale each probe remains an independent
    single-scan mapInPandas pipeline."""
    f = x_mm_features(spark, sf_dir)
    p = x_mm_ppm(spark, sf_dir)
    w = x_mm_wav(spark, sf_dir)
    g = multimodal.extract_image_features(
        multimodal.documents_as_png(_docs(spark, sf_dir))
    ).select(
        "media_id",
        F.col("mean_r").alias("png_mean_r"),
        F.col("mean_b").alias("png_mean_b"),
        F.col("luma").alias("png_luma"),
    )
    return (
        f.join(p, "media_id").join(w, "media_id").join(g, "media_id")
    )


SAMPLE_N = 25
PACK_BUDGET = 2048
SPLIT_WEIGHTS = {"train": 0.96, "val": 0.02, "test": 0.02}
MIX_PCT = {"src0": 30, "src1": 30}
MIX_BUDGET = 200_000
MIX_MAX_REPEAT = 10


def _doc_toks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id", "source",
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
    )


def x_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5-range train/val/test split, counted per
    (split, source) — zero-shuffle assignment, one count exchange."""
    sp = sampling.hash_split(
        _docs(spark, sf_dir), SPLIT_WEIGHTS, salt="split"
    )
    return sp.groupBy("split", "source").agg(
        F.count(F.lit(1)).alias("n")
    )


def x_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted-mixture epoch plan + materialized per-source row
    counts (plan agg → broadcast join → bounded explode)."""
    d = _doc_toks(spark, sf_dir)
    plan = sampling.mixture_plan(
        d, MIX_PCT, MIX_BUDGET,
        token_col="n_tok", max_repeat=MIX_MAX_REPEAT,
    )
    mixed = sampling.apply_mixture(d, plan).groupBy("source").agg(
        F.count(F.lit(1)).alias("n")
    )
    return plan.join(mixed, "source").select(
        "source", "repeats", "n"
    )


def x_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus-curation trio under ONE oracle row (the
    round-6 row-window repack pattern): per-language md5-ranked
    downsampling ('strat' tag, row-level), md5-range train/val/test
    hash split ('split' tag, per-(split, source) counts), and the
    weighted-mixture epoch plan + materialization ('mix' tag,
    per-source repeat factor and emitted row count)."""
    strat = sampling.stratified_sample(
        _docs(spark, sf_dir), SAMPLE_N,
        stratum_col="lang", id_col="doc_id",
    ).select(
        F.lit("strat").alias("tag"),
        F.col("lang").alias("k1"),
        F.col("doc_id").cast("string").alias("k2"),
        F.lit(None).cast("long").alias("n"),
    )
    split = x_hash_split(spark, sf_dir).select(
        F.lit("split").alias("tag"),
        F.col("split").alias("k1"),
        F.col("source").alias("k2"),
        "n",
    )
    mix = x_mixture(spark, sf_dir).select(
        F.lit("mix").alias("tag"),
        F.col("source").alias("k1"),
        F.col("repeats").cast("string").alias("k2"),
        "n",
    )
    return strat.unionByName(split).unionByName(mix)


def x_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing coordinates at a 2048-token budget."""
    d = _docs(spark, sf_dir).select(
        "doc_id", "lang",
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
    )
    out = sampling.pack_sequences(
        d, PACK_BUDGET, token_col="n_tok",
        stratum_col="lang", id_col="doc_id",
    )
    return out.select("doc_id", "lang", "n_tok", "bin", "off")


def x_pack_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pack_sequences through the REAL-tokenizer hook (VERDICT r13
    #5): token counts from the checked-in byte-level BPE encoder
    (extensions/bpe.py) as one Arrow-batched pandas UDF stage, then
    the identical window/binning plan as x_pack_sequences.  Bench-only
    row (no SQL oracle — the merge loop is not SQL-expressible); the
    packing INVARIANTS under BPE counts are pinned in
    tests/test_extensions.py."""
    from mapreduce_spark.extensions.bpe import BPETokenizer

    tok = BPETokenizer()
    out = sampling.pack_sequences(
        _docs(spark, sf_dir).select("doc_id", "lang", "text"),
        PACK_BUDGET, token_count_fn=tok.count_batch,
        stratum_col="lang", id_col="doc_id",
    )
    return out.select("doc_id", "lang", "bin", "off")


PIPE_N = 15
PIPE_BUDGET = 512


def x_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end pretraining prep, one composed lazy plan:
    exact-dedup → NEAR-dup cluster removal (MinHash pairs →
    connected components, keep the min-id representative) →
    stratified sample (15/lang) → packing coordinates at a
    512-token budget.  Besides the dedup stages' own exchanges
    (content-digest groupBy; band-bucket join + star rounds), ONE
    lang exchange is shared by the sampler's and packer's windows
    (identical partitioning → Catalyst reuses it); the survivors
    joins go broadcast under AQE."""
    docs = _docs(spark, sf_dir)
    d = dedup.exact_dedup(docs)
    keep = docs.join(
        d.filter(~F.col("is_dup")).select("doc_id"), "doc_id"
    )
    clusters = dedup.duplicate_clusters(keep, JACCARD_T)
    near = clusters.filter(
        F.col("doc_id") != F.col("cluster_id")
    ).select("doc_id")
    keep = keep.join(near, "doc_id", "left_anti")
    samp = sampling.stratified_sample(keep, PIPE_N, stratum_col="lang")
    toks = samp.select(
        "doc_id", "lang",
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
    )
    out = sampling.pack_sequences(
        toks, PIPE_BUDGET, token_col="n_tok"
    )
    return out.select("doc_id", "lang", "n_tok", "bin", "off")


def x_stream_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling-window reduce (streaming/windows.py) run in
    batch mode — Spark's unified batch/stream semantics mean this is
    the SAME operator `maintain`-ed over a stream; the stream≡batch
    equivalence itself is pinned by tests/test_streaming.py, and THIS
    row puts the shared computation under the DuckDB value-hash gate
    (1-day tumbling windows align with epoch-aligned date_trunc)."""
    from mapreduce_spark.sources.docs import load_table
    from mapreduce_spark.streaming import windowed_reduce

    ev = load_table(spark, sf_dir, "events")
    out = windowed_reduce(
        ev, ts_col="ts", window="1 day", keys=["event_type"],
        value_col="value",
    )
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd").alias("day"),
        "event_type",
        F.col("cnt").cast("long").alias("cnt"),
        F.round("sum_v", 4).alias("sum_v"),
        F.round("min_v", 4).alias("min_v"),
        F.round("max_v", 4).alias("max_v"),
        F.round("sumsqr_v", 1).alias("sumsqr_v"),
    )


def x_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows (streaming/sessions.py, 30-minute
    gap) in batch mode, oracle-paired against the classic lag+cumsum
    sessionization SQL; session end = last event + gap (Spark
    session_window semantics, reproduced in the oracle)."""
    from mapreduce_spark.sources.docs import load_table
    from mapreduce_spark.streaming import session_reduce

    ev = load_table(spark, sf_dir, "events")
    out = session_reduce(
        ev, ts_col="ts", gap="30 minutes", keys=["user_id"],
        value_col="value",
    )
    return out.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias(
            "s_start"
        ),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias(
            "s_end"
        ),
        F.col("cnt").cast("long").alias("cnt"),
        F.round("sum_v", 4).alias("sum_v"),
    )


# Driver-facing rows (each needs an EXT_ORACLE_SQL twin; the driver
# records at most 50 CORRECTNESS rows, so same-family probes share a
# merged row — see x_text / x_multimodal)
EXT_QUERIES = {
    "x_stream_window": x_stream_window,
    "x_stream_session": x_stream_session,
    "x_pipeline": x_pipeline,
    "x_sample_stratified": x_sample_stratified,
    "x_pack_sequences": x_pack_sequences,
    "x_text": x_text,
    "x_dedup_exact": x_dedup_exact,
    "x_dedup_jaccard": x_dedup_jaccard,
    "x_dedup_minhash": x_dedup_minhash,
    "x_dedup_simhash": x_dedup_simhash,
    "x_dedup_clusters": x_dedup_clusters,
    "x_dedup_embedding": x_dedup_embedding,
    "x_sim_topk": x_sim_topk,
    "x_sim_lsh": x_sim_lsh,
    "x_sim_ivf": x_sim_ivf,
    "x_multimodal": x_multimodal,
}

# bench-facing rows: the merged families benched per-operator so a
# regression in any single operator stays visible round-over-round
EXT_BENCH_QUERIES = {
    **{k: v for k, v in EXT_QUERIES.items()
       if k not in ("x_text", "x_multimodal")},
    "x_text_stats": x_text_stats,
    "x_text_langid": x_text_langid,
    "x_text_fp": x_text_fp,
    "x_text_pii": x_text_pii,
    "x_text_rep": (
        lambda spark, sf_dir: text.repetition_features(
            _docs(spark, sf_dir)
        )
    ),
    "x_decontam": x_decontam,
    "x_rep_ngrams": x_rep_ngrams,
    "x_hash_split": x_hash_split,
    "x_mixture": x_mixture,
    "x_mm_features": x_mm_features,
    "x_mm_ppm": x_mm_ppm,
    "x_mm_wav": x_mm_wav,
    "x_pack_bpe": x_pack_bpe,
    "x_dedup_semantic": x_dedup_semantic,
}


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

def _sql_stop_list(words) -> str:
    return "[" + ",".join(f"'{w}'" for w in words) + "]"


def _sql_ratio(words) -> str:
    lst = _sql_stop_list(words)
    return (
        f"len(list_filter(w, x -> list_contains({lst}, x)))::DOUBLE"
        "/greatest(len(w),1)"
    )


def _sql_lang_score(lang: str) -> str:
    """DuckDB replica of text.lang_scores[lang] — same signal classes,
    same operation ORDER (stop + W*(tri/n) + W*(dia/n)) so double
    arithmetic is bit-identical to the Spark expression."""
    tri = "+".join(
        f"(len(lower(text))-len(replace(lower(text),'{t}','')))"
        f"/{len(t)}"
        for t in text.LANG_TRIGRAMS[lang]
    )
    s = (
        f"({_sql_ratio(text.LANG_STOPWORDS[lang])}"
        f" + {text.TRI_WEIGHT}*(({tri})/greatest(len(text),1))"
    )
    dia = text.LANG_DIACRITICS[lang]
    if dia:
        s += (
            f" + {text.DIA_WEIGHT}*("
            f"len(regexp_replace(lower(text),'[^{dia}]','','g'))"
            f"::DOUBLE/greatest(len(text),1))"
        )
    return s + ")"


_SQL_CJK = (
    f"len(regexp_replace(text,'[^{text.CJK_RANGE}]','','g'))"
    "::DOUBLE/greatest(len(text),1)"
)
_SQL_KANA = (
    f"len(regexp_replace(text,'[^{text.KANA_RANGE}]','','g'))"
    "::DOUBLE/greatest(len(text),1)"
)
_SQL_CYR = (
    f"len(regexp_replace(text,'[^{text.CYRILLIC_RANGE}]','','g'))"
    "::DOUBLE/greatest(len(text),1)"
)


_SHINGLES = (
    "list_distinct([w[i]||' '||w[i+1]||' '||w[i+2] "
    "for i in range(1, len(w)-1)])"
)

# Mirrors _pii_augmented exactly (same literals, same modular
# arithmetic; BIGINT::VARCHAR and Spark's long→string cast agree).
_PII_AUG_SQL = (
    "text || CASE WHEN doc_id % 3 <> 2 THEN"
    " ' contact u' || doc_id::VARCHAR || '@example.org ip 10.' ||"
    " (doc_id % 256)::VARCHAR || '.' || ((doc_id * 7) % 256)::VARCHAR"
    " || '.' || (doc_id % 200)::VARCHAR || ' tel (555) ' ||"
    " (doc_id % 900 + 100)::VARCHAR || '-' ||"
    " (doc_id % 9000 + 1000)::VARCHAR || ' see https://ex' ||"
    " (doc_id % 10)::VARCHAR || '.example.com/d/' || doc_id::VARCHAR"
    " ELSE '' END || CASE WHEN doc_id % 5 = 0 THEN"
    " ' cc admin' || doc_id::VARCHAR || '@example.net' ELSE '' END"
)


def _pii_sql() -> str:
    """DuckDB replica of x_text_pii: RE2 evaluates the same patterns
    over the same augmented text (dialect agreement pinned in
    tests/test_extensions.py::test_pii_dialect_battery)."""
    counts = ", ".join(
        f"len(regexp_extract_all(atext, '{pat}'))::BIGINT AS {name}"
        for name, pat in text.PII_COUNT_COLS
    )
    red = "atext"
    for pat, token in text.PII_REDACTIONS:
        red = f"regexp_replace({red}, '{pat}', '{token}', 'g')"
    return (
        f"SELECT doc_id, {counts}, md5({red}) AS redacted_md5 "
        f"FROM (SELECT doc_id, {_PII_AUG_SQL} AS atext FROM documents)"
    )

_JACCARD_PAIRS_SQL = f"""
WITH t AS (SELECT doc_id, string_split(text,' ') w FROM documents),
sh AS (SELECT doc_id, {_SHINGLES} s FROM t),
p AS (
  SELECT a.doc_id id_a, b.doc_id id_b,
         len(list_intersect(a.s, b.s))::DOUBLE
           / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) j
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
SELECT id_a, id_b, ROUND(j, 6) AS jaccard FROM p WHERE j >= {JACCARD_T}
"""


def _simhash_sql() -> str:
    hi = ",".join(
        f"sum(CASE WHEN (h_hi >> {j}) & 1 = 1 THEN cnt ELSE -cnt END)"
        f" AS hi{j}"
        for j in range(32)
    )
    lo = ",".join(
        f"sum(CASE WHEN (h_lo >> {j}) & 1 = 1 THEN cnt ELSE -cnt END)"
        f" AS lo{j}"
        for j in range(32)
    )
    fold_hi = " + ".join(
        f"(CASE WHEN hi{j} > 0 THEN {1 << j}::BIGINT ELSE 0::BIGINT END)"
        for j in range(32)
    )
    fold_lo = " + ".join(
        f"(CASE WHEN lo{j} > 0 THEN {1 << j}::BIGINT ELSE 0::BIGINT END)"
        for j in range(32)
    )
    return f"""
WITH tk AS (
  SELECT doc_id, tok, count(*)::BIGINT cnt FROM (
    SELECT doc_id, unnest(string_split(text,' ')) AS tok
    FROM documents) GROUP BY 1, 2),
h AS (
  SELECT doc_id, cnt,
         ('0x'||substr(md5(tok),1,8))::BIGINT h_hi,
         ('0x'||substr(md5(tok),9,8))::BIGINT h_lo FROM tk),
s AS (SELECT doc_id, {hi}, {lo} FROM h GROUP BY 1)
SELECT doc_id, {fold_hi} AS sim_hi, {fold_lo} AS sim_lo FROM s
"""


EXT_ORACLE_SQL = {
    "x_stream_window": """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
  event_type,
  count(*)::BIGINT AS cnt,
  ROUND(SUM(value), 4) AS sum_v,
  ROUND(MIN(value), 4) AS min_v,
  ROUND(MAX(value), 4) AS max_v,
  ROUND(SUM(value * value), 1) AS sumsqr_v
FROM events GROUP BY 1, 2
""",
    # Spark session_window merges events whose [ts, ts+gap) windows
    # OVERLAP (strict): a gap of exactly 30 minutes starts a NEW
    # session, hence the >= break condition
    "x_stream_session": """
WITH t AS (
  SELECT user_id, ts, value,
    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
              >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
  FROM events
), s AS (
  SELECT user_id, ts, value,
    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING) AS sess
  FROM t
)
SELECT user_id::BIGINT AS user_id,
  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS s_start,
  strftime(MAX(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS s_end,
  count(*)::BIGINT AS cnt,
  ROUND(SUM(value), 4) AS sum_v
FROM s GROUP BY user_id, sess
""",
    "x_pipeline": f"""
WITH RECURSIVE
k AS (
  SELECT doc_id, lang, text FROM (
    SELECT doc_id, lang, text,
      min(doc_id) OVER (PARTITION BY md5(text)) AS canon
    FROM documents) WHERE doc_id = canon),
t0 AS (SELECT doc_id, string_split(text,' ') w FROM k),
sh0 AS (SELECT doc_id, {_SHINGLES} s FROM t0),
p0 AS (
  SELECT a.doc_id id_a, b.doc_id id_b,
         len(list_intersect(a.s, b.s))::DOUBLE
           / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) j
  FROM sh0 a JOIN sh0 b ON a.doc_id < b.doc_id),
e0 AS (SELECT id_a a, id_b b FROM p0 WHERE j >= {JACCARD_T}
       UNION SELECT id_b, id_a FROM p0 WHERE j >= {JACCARD_T}),
r0 AS (SELECT a AS node, a AS reach FROM e0
       UNION SELECT r0.node, e0.b FROM r0 JOIN e0 ON e0.a = r0.reach),
lab AS (SELECT node, min(reach) AS cluster_id FROM r0 GROUP BY node),
k2 AS (SELECT k.* FROM k LEFT JOIN lab ON k.doc_id = lab.node
       WHERE lab.node IS NULL OR lab.cluster_id = k.doc_id),
s AS (
  SELECT doc_id, lang, text FROM (
    SELECT k2.*, row_number() OVER (PARTITION BY lang
      ORDER BY md5(doc_id::VARCHAR || ':'), doc_id) rk FROM k2)
  WHERE rk <= {PIPE_N}),
t AS (SELECT doc_id, lang,
  len(string_split(text,' '))::BIGINT n_tok FROM s),
r AS (SELECT t.*, sum(n_tok) OVER (PARTITION BY lang
    ORDER BY md5(doc_id::VARCHAR || ':'), doc_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS start
  FROM t)
SELECT doc_id, lang, n_tok,
  (start // {PIPE_BUDGET})::BIGINT AS bin,
  (start % {PIPE_BUDGET})::BIGINT AS off
FROM r
""",
    "x_sample_stratified": f"""
WITH r AS (SELECT doc_id, lang,
  row_number() OVER (PARTITION BY lang
    ORDER BY md5(doc_id::VARCHAR || ':'), doc_id) rk
  FROM documents),
strat AS (SELECT 'strat' AS tag, lang AS k1, doc_id::VARCHAR AS k2,
  NULL::BIGINT AS n FROM r WHERE rk <= {SAMPLE_N}),
sp AS (SELECT CASE
    WHEN substr(md5(doc_id::VARCHAR || ':split'), 1, 16)
         < '{sampling.split_bound_hex(SPLIT_WEIGHTS, "train")}'
      THEN 'train'
    WHEN substr(md5(doc_id::VARCHAR || ':split'), 1, 16)
         < '{sampling.split_bound_hex(SPLIT_WEIGHTS, "val")}'
      THEN 'val'
    ELSE 'test' END AS split, source FROM documents),
spc AS (SELECT 'split' AS tag, split AS k1, source AS k2,
  count(*)::BIGINT AS n FROM sp GROUP BY 1, 2, 3),
tok AS (SELECT source,
  sum(len(string_split(text, ' ')))::BIGINT AS src_tokens,
  count(*)::BIGINT AS ndocs FROM documents GROUP BY 1),
pl AS (SELECT source, ndocs,
  greatest(1, least({MIX_MAX_REPEAT},
    ({MIX_BUDGET} * CASE source
        WHEN 'src0' THEN {MIX_PCT["src0"]}
        WHEN 'src1' THEN {MIX_PCT["src1"]} ELSE 0 END)
      // (100 * src_tokens))) AS repeats
  FROM tok),
mix AS (SELECT 'mix' AS tag, source AS k1, repeats::VARCHAR AS k2,
  (ndocs * repeats)::BIGINT AS n FROM pl)
SELECT * FROM strat UNION ALL SELECT * FROM spc
UNION ALL SELECT * FROM mix
""",
    "x_pack_sequences": f"""
WITH t AS (SELECT doc_id, lang,
  len(string_split(text,' '))::BIGINT n_tok FROM documents),
r AS (SELECT t.*, sum(n_tok) OVER (PARTITION BY lang
    ORDER BY md5(doc_id::VARCHAR || ':'), doc_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS start
  FROM t)
SELECT doc_id, lang, n_tok,
  (start // {PACK_BUDGET})::BIGINT AS bin,
  (start % {PACK_BUDGET})::BIGINT AS off
FROM r
""",
    "x_text": f"""
WITH t AS (SELECT doc_id, text, string_split(text,' ') w FROM documents),
stats AS (
SELECT doc_id,
 len(w)::BIGINT AS n_tokens,
 len(regexp_extract_all(text, '{_BPE_SQL}'))::BIGINT AS n_bpe_tokens,
 ROUND((len(text) - (len(w)-1))::DOUBLE / greatest(len(w),1), 4)
   AS mean_tok_len,
 ROUND({_sql_ratio(_STOP_EN)}, 4) AS stopword_ratio,
 ROUND(len(list_distinct(w))::DOUBLE/greatest(len(w),1), 4)
   AS distinct_ratio,
 ROUND(0.35*least(len(w)/50.0, 1.0)
     + 0.25*(len(list_distinct(w))::DOUBLE/greatest(len(w),1))
     + 0.25*(len(regexp_replace(text,'[^A-Za-z]','','g'))::DOUBLE
             /greatest(len(text),1))
     + 0.15*least(({_sql_ratio(_STOP_EN)})*5, 1.0), 4) AS quality
FROM t),
ls AS (SELECT doc_id,
  {_sql_lang_score('en')} s_en,
  {_sql_lang_score('es')} s_es,
  {_sql_lang_score('fr')} s_fr,
  {_sql_lang_score('de')} s_de,
  {_SQL_CJK} cjk, {_SQL_KANA} kana, {_SQL_CYR} cyr FROM t),
lang AS (
SELECT doc_id,
 CASE WHEN kana > {text.KANA_MIN_RATIO} THEN 'ja'
      WHEN cjk > {text.CJK_MIN_RATIO} THEN 'zh'
      WHEN cyr > {text.CYR_MIN_RATIO} THEN 'ru'
      WHEN greatest(s_en,s_es,s_fr,s_de) <= 0 THEN 'und'
      WHEN s_en >= greatest(s_es,s_fr,s_de) THEN 'en'
      WHEN s_es >= greatest(s_fr,s_de) THEN 'es'
      WHEN s_fr >= s_de THEN 'fr' ELSE 'de' END AS pred_lang,
 ROUND(CASE WHEN kana > {text.KANA_MIN_RATIO} THEN kana
       WHEN cjk > {text.CJK_MIN_RATIO} THEN cjk
       WHEN cyr > {text.CYR_MIN_RATIO} THEN cyr
       ELSE greatest(s_en,s_es,s_fr,s_de) END, 4) AS score
FROM ls),
fp AS (
SELECT doc_id, md5(text) AS text_md5,
 coalesce(list_min(list_transform({_SHINGLES},
                                  s -> substr(md5(s),1,16))), '')
   AS rolling_fp
FROM t),
rep AS (
SELECT doc_id,
 ROUND(CASE WHEN len(bi) > 0
       THEN 1.0 - len(list_distinct(bi))::DOUBLE / len(bi)
       ELSE 0.0 END, 4) AS dup_bigram_ratio,
 ROUND(coalesce(list_max(list_transform(list_distinct(w),
         t -> len(list_filter(w, x -> x = t))))::DOUBLE
       / greatest(len(w), 1), 0.0), 4) AS top_token_ratio
FROM (SELECT doc_id, w,
        [w[i]||' '||w[i+1] for i in range(1, len(w))] AS bi
      FROM t)),
sh3 AS (SELECT doc_id, {_SHINGLES} s FROM t),
ex3 AS (SELECT doc_id, unnest(s) g FROM sh3),
bg AS (SELECT DISTINCT unnest(s) g FROM sh3
       WHERE doc_id % {BENCH_MOD} = 0),
con AS (
SELECT sh3.doc_id, len(s)::BIGINT AS ngrams3,
 coalesce(h.hits, 0)::BIGINT AS contam_hits,
 ROUND(CASE WHEN len(s) > 0
       THEN coalesce(h.hits, 0)::DOUBLE / len(s) ELSE 0.0 END, 4)
   AS contamination
FROM sh3 LEFT JOIN (
  SELECT e.doc_id, count(*) hits FROM ex3 e JOIN bg USING (g)
  GROUP BY 1) h USING (doc_id)),
dfq AS (SELECT g, count(*) c FROM ex3 GROUP BY 1),
repn AS (
SELECT sh3.doc_id, coalesce(r.hits, 0)::BIGINT AS rep_hits,
 ROUND(CASE WHEN len(s) > 0
       THEN coalesce(r.hits, 0)::DOUBLE / len(s) ELSE 0.0 END, 4)
   AS rep_fraction
FROM sh3 LEFT JOIN (
  SELECT e.doc_id, count(*) hits FROM ex3 e JOIN dfq USING (g)
  WHERE dfq.c >= 2 GROUP BY 1) r USING (doc_id)),
pii AS ({_pii_sql()})
SELECT stats.*, lang.pred_lang, lang.score, fp.text_md5,
       fp.rolling_fp, rep.dup_bigram_ratio, rep.top_token_ratio,
       con.ngrams3, con.contam_hits, con.contamination,
       repn.rep_hits, repn.rep_fraction,
       pii.n_emails, pii.n_ipv4, pii.n_phones, pii.n_urls,
       pii.redacted_md5
FROM stats JOIN lang USING (doc_id) JOIN fp USING (doc_id)
     JOIN rep USING (doc_id) JOIN con USING (doc_id)
     JOIN repn USING (doc_id) JOIN pii USING (doc_id)
""",
    "x_dedup_exact": """
SELECT doc_id, md5(text) AS fp,
 min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
 count(*) OVER (PARTITION BY md5(text)) AS group_size,
 doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) AS is_dup
FROM documents
""",
    "x_dedup_jaccard": _JACCARD_PAIRS_SQL,
    "x_dedup_minhash": _JACCARD_PAIRS_SQL,
    "x_dedup_clusters": f"""
WITH RECURSIVE
t AS (SELECT doc_id, text, string_split(text,' ') w FROM documents),
sh AS (SELECT doc_id, {_SHINGLES} s FROM t),
p AS (
  SELECT a.doc_id id_a, b.doc_id id_b,
         len(list_intersect(a.s, b.s))::DOUBLE
           / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) j
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
e AS (SELECT id_a a, id_b b FROM p WHERE j >= {JACCARD_T}
      UNION SELECT id_b, id_a FROM p WHERE j >= {JACCARD_T}),
r AS (SELECT a AS node, a AS reach FROM e
      UNION SELECT r.node, e.b FROM r JOIN e ON e.a = r.reach),
lab AS (SELECT node AS doc_id, min(reach) AS cluster_id
        FROM r GROUP BY node),
q AS (SELECT doc_id,
 ROUND(0.35*least(len(w)/50.0, 1.0)
     + 0.25*(len(list_distinct(w))::DOUBLE/greatest(len(w),1))
     + 0.25*(len(regexp_replace(text,'[^A-Za-z]','','g'))::DOUBLE
             /greatest(len(text),1))
     + 0.15*least(({_sql_ratio(_STOP_EN)})*5, 1.0), 4) AS quality
FROM t)
SELECT lab.doc_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id)::BIGINT AS cluster_size,
       (ROW_NUMBER() OVER (PARTITION BY cluster_id
                           ORDER BY quality DESC, lab.doc_id ASC) = 1)
         AS keep
FROM lab JOIN q ON lab.doc_id = q.doc_id
""",
    "x_dedup_simhash": _simhash_sql(),
    "x_dedup_embedding": f"""
WITH p AS (
  SELECT a.vec_id id_a, b.vec_id id_b,
         list_cosine_similarity(a.embedding::DOUBLE[],
                                b.embedding::DOUBLE[]) c
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
SELECT id_a, id_b, ROUND(c, 4) AS cosine FROM p WHERE c >= {COSINE_T}
""",
    "x_sim_topk": f"""
WITH q AS (SELECT vec_id qid, embedding::DOUBLE[] qv FROM embeddings
           WHERE vec_id IN ({",".join(map(str, TOPK_QUERIES))})),
s AS (SELECT q.qid, e.vec_id vid,
             list_cosine_similarity(e.embedding::DOUBLE[], q.qv) c
      FROM embeddings e, q WHERE e.vec_id <> q.qid),
r AS (SELECT qid, vid, c,
             row_number() OVER (PARTITION BY qid ORDER BY c DESC, vid)
               rank FROM s)
SELECT qid, vid, ROUND(c, 6) AS cosine, rank::INT AS rank FROM r
WHERE rank <= {TOPK_K}
""",
    # approximate ANN paths: the oracle pins the query set + the recall
    # contract (per-query recall ≥ ANN_RECALL_MIN must hold — a false
    # on the Spark side hash-mismatches); the exact top-k values they
    # are measured against are value-checked separately via x_sim_topk
    "x_sim_lsh": f"""
SELECT vec_id::BIGINT AS qid, {TOPK_K}::INT AS k, true AS meets_min
FROM embeddings WHERE vec_id IN ({",".join(map(str, TOPK_QUERIES))})
""",
    "x_sim_ivf": f"""
SELECT vec_id::BIGINT AS qid, {TOPK_K}::INT AS k, true AS meets_min
FROM embeddings WHERE vec_id IN ({",".join(map(str, TOPK_QUERIES))})
""",
    # REAL-decode oracles inside one joined row (round-6 repack): the
    # Spark side round-trips text bytes through an actual PPM / WAV
    # container and decodes it; the oracle recomputes the identical
    # pixel/sample values straight from the text (8·4·3 = 96 image
    # bytes, 64 audio samples — power-of-two counts keep the float64
    # means exact)
    "x_multimodal": """
WITH f AS (
SELECT doc_id AS media_id, strlen(text)::BIGINT AS n_bytes,
 (list_sum(list_transform(string_split_regex(text,''),
                          x -> ascii(x))) % 9973)::BIGINT
   AS byte_sum_mod,
 strlen(text)::DOUBLE AS f_len,
 (list_sum(list_transform(string_split_regex(substr(text,1,64),''),
                          x -> ascii(x))) % 9973)::DOUBLE AS f_sum64,
 ascii(substr(text,1,1))::DOUBLE AS f_first,
 ascii(substr(reverse(text),1,1))::DOUBLE AS f_last
FROM documents),
tp AS (SELECT doc_id,
  substr(repeat(text, (96 // strlen(text)) + 1), 1, 96) s
  FROM documents),
mp AS (SELECT doc_id,
  list_avg([ascii(substr(s, 1 + 3*j, 1)) for j in range(0, 32)]) mr,
  list_avg([ascii(substr(s, 2 + 3*j, 1)) for j in range(0, 32)]) mg,
  list_avg([ascii(substr(s, 3 + 3*j, 1)) for j in range(0, 32)]) mb
  FROM tp),
img AS (
SELECT doc_id AS media_id, 8 AS width, 4 AS height,
  mr AS mean_r, mg AS mean_g, mb AS mean_b,
  0.299*mr + 0.587*mg + 0.114*mb AS luma
FROM mp),
tw AS (SELECT doc_id,
  substr(repeat(text, (64 // strlen(text)) + 1), 1, 64) s
  FROM documents),
vw AS (SELECT doc_id,
  [(ascii(substr(s, 1 + j, 1)) - 128) * 256.0
   for j in range(0, 64)] vals FROM tw),
aud AS (
SELECT doc_id AS media_id, 8000 AS sample_rate, 64 AS n_samples,
  ROUND(list_avg(vals), 4) AS mean_amp,
  ROUND(sqrt(list_avg([x*x for x in vals])), 4) AS rms
FROM vw)
SELECT f.*, img.width, img.height, img.mean_r, img.mean_g, img.mean_b,
       img.luma, aud.sample_rate, aud.n_samples, aud.mean_amp, aud.rms,
       img.mean_r AS png_mean_r, img.mean_b AS png_mean_b,
       img.luma AS png_luma
FROM f JOIN img USING (media_id) JOIN aud USING (media_id)
""",
}
