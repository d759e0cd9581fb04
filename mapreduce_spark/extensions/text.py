"""Text analysis operators over the ``documents`` table.

All hot-path expressions are JVM-side (``pyspark.sql.functions`` only:
split / transform / filter / aggregate / md5) so they run inside
whole-stage codegen with full column pruning — a scan of ``documents``
for token counting reads exactly the ``text`` column.  Hashing is
``md5`` everywhere because Spark and DuckDB implement it identically,
which makes every operator here value-checkable against a SQL oracle.

Scale notes (100 TB): every operator below is a narrow map over the
corpus — no shuffle, no driver traffic; throughput is bounded by
parquet scan + codegen'd string ops.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mapreduce_spark.plans.sizing import spread

# Whitespace tokens — the fixture corpus is space-separated ASCII.
def tokens(text: Column | str = "text") -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, " ")


def _with_tokens(text: Column | str, fn) -> Column:
    """Evaluate ``fn(wv)`` with the token array bound ONCE as a lambda
    variable.

    Higher-order-function lambdas are interpreted per element, and an
    outer expression referenced INSIDE a lambda body is re-evaluated on
    every lambda call — embedding ``split(text)`` in a per-shingle
    lambda re-tokenizes the whole document once per shingle, O(tokens²)
    per doc (the same trap documented at util.normalized_vectors for
    norms; measured r15: 4.1 → 0.6 CPU-s on the 5k-doc shingle pass).
    Wrapping the computation in ``transform(array(w), fn)[1]`` binds
    the tokenization to a lambda VARIABLE (a slot read per reference),
    so the document is split exactly once per row."""
    w = tokens(text)
    return F.element_at(F.transform(F.array(w), fn), 1)


# BPE-ish subword-boundary tokens: word pieces + isolated punctuation.
BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_tokens(text: Column | str = "text") -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(c, F.lit(BPE_RE), 0)


def shingles(n: int, text: Column | str = "text") -> Column:
    """Distinct word n-gram shingles, pure JVM (transform over a
    sequence of start offsets; no explode, no Python).

    The token array is bound once via :func:`_with_tokens` and each
    gram is a flat ``concat`` of ``element_at`` reads — values are
    byte-identical to the previous ``concat_ws(slice(...))`` form
    (space-joined tokens, no nulls from split), but the per-shingle
    cost drops from re-splitting the document (O(tokens) per gram)
    to n array reads (measured r15: ~7× less CPU on the hottest
    kernel shared by jaccard/minhash/decontam/rep_ngrams/fp)."""

    def grams(wv: Column) -> Column:
        def gram(i: Column) -> Column:
            parts = [F.element_at(wv, i.cast("int"))]
            for j in range(1, n):
                parts.append(F.lit(" "))
                parts.append(
                    F.element_at(wv, (i + F.lit(j)).cast("int"))
                )
            return F.concat(*parts)

        seq = F.sequence(F.lit(1), F.size(wv) - F.lit(n - 1))
        return F.array_distinct(
            F.when(F.size(wv) >= n, F.transform(seq, gram)).otherwise(
                F.array().cast("array<string>")
            )
        )

    return _with_tokens(text, grams)


# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic.  Deliberately small + deterministic (oracle-replicable).
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "in", "is"),
    "es": ("el", "la", "de", "que", "y", "los", "es"),
    "fr": ("le", "la", "de", "et", "un", "les", "est"),
    "de": ("der", "die", "das", "und", "ein", "ist", "zu"),
}

# Round-13 langid deepening (VERDICT r12 #7), still inside the
# dependency-free / oracle-replicable constraint: three extra signal
# classes folded into the SAME single scan —
#
# - character TRIGRAMS (high-frequency, language-distinctive; counted
#   by the replace-and-diff idiom, so both Spark and any SQL oracle
#   compute identical occurrence counts with no regex dialect risk);
# - DIACRITIC character classes (á/ñ vs è/ç vs ä/ß — strong
#   lexicon-free evidence the stopword model is blind to when a text
#   has few function words);
# - a CJK short-circuit: space-tokenized stopwords can never fire on
#   Chinese text, so a codepoint-class ratio handles 'zh' directly.
#
# All signals are plain length/replace/regexp_replace expressions —
# whole-stage codegen, zero Python — and every list is deliberately
# small: this remains a deterministic heuristic (a demo next to a real
# fastText-class model), but one that actually separates real en/es/
# fr/de/zh prose (accuracy pinned on genuine sentences in
# tests/test_extensions.py::test_lang_id_real_text).
LANG_TRIGRAMS: dict[str, tuple[str, ...]] = {
    "en": ("the", "ing", "and", "ion", " of"),
    "es": ("ión", "que", " de", "los", "ado"),
    "fr": ("les", "que", "ent", "eur", " de"),
    "de": ("der", "und", "sch", "ein", "ich"),
}
LANG_DIACRITICS: dict[str, str] = {
    "en": "",
    "es": "áéíóúñü¿¡",
    "fr": "àâçéèêëîïôùûœ",
    "de": "äöüß",
}
CJK_RANGE = f"{chr(0x4E00)}-{chr(0x9FFF)}"  # CJK Unified Ideographs
CJK_MIN_RATIO = 0.2
# Round-14 script signals (VERDICT r13 #7), same single-scan
# codepoint-class-ratio shape as the CJK short-circuit:
# - KANA (hiragana U+3040-309F + katakana U+30A0-30FF): uniquely
#   Japanese.  Checked BEFORE the zh short-circuit — real Japanese
#   prose is heavy in Han ideographs too, so a cjk-first order would
#   swallow it; even a modest kana fraction (particles/okurigana put
#   it at ~25-50% of characters) is decisive, hence the low threshold.
# - CYRILLIC (U+0400-04FF): labeled 'ru' the way the Han class is
#   labeled 'zh' — a script-level call, not a uk/bg/sr discriminator.
KANA_RANGE = f"{chr(0x3040)}-{chr(0x30FF)}"
KANA_MIN_RATIO = 0.05
CYRILLIC_RANGE = f"{chr(0x0400)}-{chr(0x04FF)}"
CYR_MIN_RATIO = 0.2
TRI_WEIGHT = 10.0
DIA_WEIGHT = 10.0


def _ratio_in(w: Column, words: tuple[str, ...]) -> Column:
    """Fraction of tokens contained in ``words`` (duplicates count)."""
    hits = F.size(
        F.filter(w, lambda x: x.isin(*[F.lit(s) for s in words]))
    )
    return hits / F.greatest(F.size(w), F.lit(1))


def _occurrences(c: Column, s: str) -> Column:
    """Occurrence count of substring ``s`` via replace-and-diff
    (identical semantics in every SQL engine — no regex)."""
    return (
        F.length(c) - F.length(F.replace(c, F.lit(s), F.lit("")))
    ) / len(s)


def _class_ratio(c: Column, chars: str) -> Column:
    """Fraction of characters belonging to the class ``chars``."""
    return F.length(
        F.regexp_replace(c, f"[^{chars}]", "")
    ) / F.greatest(F.length(c), F.lit(1))


def lang_scores(text: Column | str = "text") -> dict[str, Column]:
    """Per-language evidence score: stopword-token ratio + weighted
    per-char trigram rate + weighted diacritic-class rate (one scan,
    all codegen'd JVM expressions).

    NULL text scores as empty text (all-zero → lang_id 'und'/0.0):
    without the coalesce every signal is NULL and the downstream
    argmax/threshold logic silently yields NULL labels (review r13).
    The DuckDB x_text oracle is NOT null-hardened — the fixture
    contract is text NOT NULL; parity is scoped to that."""
    c = F.coalesce(
        F.col(text) if isinstance(text, str) else text, F.lit("")
    )
    w = tokens(c)
    n_chars = F.greatest(F.length(c), F.lit(1))
    lower = F.lower(c)
    out: dict[str, Column] = {}
    for lang, sw in LANG_STOPWORDS.items():
        tri = None
        for t in LANG_TRIGRAMS[lang]:
            o = _occurrences(lower, t)
            tri = o if tri is None else tri + o
        score = _ratio_in(w, sw) + F.lit(TRI_WEIGHT) * (tri / n_chars)
        dia = LANG_DIACRITICS[lang]
        if dia:
            score = score + F.lit(DIA_WEIGHT) * _class_ratio(lower, dia)
        out[lang] = score
    return out


def _lang_pick(sarr: Column, cjk: Column, kana: Column, cyr: Column,
               langs: list[str]) -> tuple[Column, Column]:
    """(pred_lang, score) from a score-ARRAY column and the three
    script-ratio columns.  First max wins → earlier lang on ties;
    all-zero → 'und'; script ratios short-circuit in ja → zh → ru
    order (ja BEFORE zh: Japanese prose is Han-heavy, so the kana test
    must get first claim; ru is script-disjoint from both)."""
    mx = F.array_max(sarr)
    best_lang = F.element_at(
        F.array(*[F.lit(lang) for lang in langs]),
        F.array_position(sarr, mx).cast("int"),
    )
    is_ja = kana > KANA_MIN_RATIO
    is_zh = cjk > CJK_MIN_RATIO
    is_ru = cyr > CYR_MIN_RATIO
    return (
        F.when(is_ja, F.lit("ja"))
        .when(is_zh, F.lit("zh"))
        .when(is_ru, F.lit("ru"))
        .when(mx <= 0, F.lit("und"))
        .otherwise(best_lang),
        F.when(is_ja, kana).when(is_zh, cjk).when(is_ru, cyr)
        .otherwise(F.greatest(mx, F.lit(0.0))),
    )


def add_lang_id(df: DataFrame, text: str = "text",
                lang_col: str = "pred_lang",
                score_col: str = "score") -> DataFrame:
    """``df`` + (``lang_col``, ``score_col``) — the FRAME-level
    language-ID entry point, and the one hot paths must use.

    Two projections on purpose: the per-language score expressions
    (~12 string ops each after the round-13 trigram/diacritic terms)
    are materialized into ONE array column in the first Project, and
    the argmax/threshold logic references that column in the second.
    A single-Column formulation re-evaluates the score array once per
    reference (array_max + array_position + each output column);
    codegen's subexpression elimination does NOT hoist them because
    they sit under when() branches, measured 3.3 s vs 0.67 s on the
    5k-doc bench row.  The optimizer keeps the split (CollapseProject
    refuses to duplicate non-cheap multi-referenced aliases), so the
    scores are computed exactly once per row."""
    scores = lang_scores(text)
    c = F.coalesce(F.col(text), F.lit(""))
    staged = spread(df).withColumns({
        "_lang_sarr": F.array(*scores.values()),
        "_lang_cjk": _class_ratio(c, CJK_RANGE),
        "_lang_kana": _class_ratio(c, KANA_RANGE),
        "_lang_cyr": _class_ratio(c, CYRILLIC_RANGE),
    })
    lang, score = _lang_pick(
        F.col("_lang_sarr"), F.col("_lang_cjk"),
        F.col("_lang_kana"), F.col("_lang_cyr"), list(scores)
    )
    return (
        staged.withColumns({lang_col: lang, score_col: score})
        .drop("_lang_sarr", "_lang_cjk", "_lang_kana", "_lang_cyr")
    )


def lang_id(text: Column | str = "text") -> tuple[Column, Column]:
    """(predicted_lang, score) — argmax of :func:`lang_scores`, with a
    CJK-ratio short-circuit for 'zh'; ties break in fixed lang order;
    all-zero scores → 'und' (undetermined).

    Column-level convenience form: each returned Column embeds the
    full score array, which is re-evaluated per reference — fine for
    small frames and tests; BULK scans should use :func:`add_lang_id`
    (one-evaluation two-projection plan, ~5× cheaper).

    The argmax is array_max + array_position over ONE score array —
    NOT a chained when() fold, which re-embeds every prior score
    expression into each comparison (the same exponential plan-size
    trap documented at similarity._assign_cells; with the round-13
    trigram/diacritic terms the fold made the 500-row x_text plan
    take ~90 s to analyze+run vs ~2 s for the array form)."""
    c = F.coalesce(
        F.col(text) if isinstance(text, str) else text, F.lit("")
    )
    scores = lang_scores(text)
    return _lang_pick(
        F.array(*scores.values()), _class_ratio(c, CJK_RANGE),
        _class_ratio(c, KANA_RANGE), _class_ratio(c, CYRILLIC_RANGE),
        list(scores),
    )


def quality_features(df: DataFrame, text: str = "text") -> DataFrame:
    """Per-doc quality features + a composite [0,1] quality score.

    Features follow the usual pretraining-corpus filters (length,
    mean word length, stopword ratio, alpha ratio, distinct-token
    ratio); the composite is a fixed deterministic blend so the
    operator is oracle-checkable.
    """
    w = tokens(text)
    n_tok = F.size(w)
    n_chars = F.length(F.col(text))
    mean_len = (n_chars - (n_tok - 1)) / F.greatest(n_tok, F.lit(1))
    stop_ratio = _ratio_in(w, LANG_STOPWORDS["en"])
    distinct_ratio = F.size(F.array_distinct(w)) / F.greatest(
        n_tok, F.lit(1)
    )
    alpha_ratio = F.length(
        F.regexp_replace(F.col(text), r"[^A-Za-z]", "")
    ) / F.greatest(n_chars, F.lit(1))
    length_score = F.least(n_tok / F.lit(50.0), F.lit(1.0))
    quality = (
        F.lit(0.35) * length_score
        + F.lit(0.25) * distinct_ratio
        + F.lit(0.25) * alpha_ratio
        + F.lit(0.15) * F.least(stop_ratio * 5, F.lit(1.0))
    )
    return df.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        F.size(bpe_tokens(text)).cast("long").alias("n_bpe_tokens"),
        F.round(mean_len, 4).alias("mean_tok_len"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.round(distinct_ratio, 4).alias("distinct_ratio"),
        F.round(quality, 4).alias("quality"),
    )


def fingerprints(df: DataFrame, text: str = "text",
                 n: int = 3) -> DataFrame:
    """Document fingerprints: full-text md5 + a rolling-window content
    fingerprint (min md5 over word n-gram shingles — a 1-permutation
    MinHash, robust to doc reordering at the margins)."""
    sh = shingles(n, text)
    rolling = F.array_min(
        F.transform(sh, lambda s: F.substring(F.md5(s), 1, 16))
    )
    return spread(df).select(
        "doc_id",
        F.md5(F.col(text)).alias("text_md5"),
        F.coalesce(rolling, F.lit("")).alias("rolling_fp"),
    )


# --- Model-based quality filtering ---------------------------------------
#
# The FineWeb-edu / DCLM pattern: fit a small classifier on labeled
# documents, then filter the corpus by its score.  Spark-first split:
# the FIT is MLlib logistic regression (distributed treeAggregate
# LBFGS — one estimator, any corpus size), but the model comes back as
# PLAIN FLOATS so the corpus-scale SCORING path is a pure codegen'd
# JVM expression (sigmoid of a literal dot product) — no model object,
# no Python stage, no shuffle in the hot path, and the scorer is
# auditable/serializable as JSON.
QUALITY_MODEL_FEATURES: tuple[str, ...] = (
    "n_tokens", "mean_tok_len", "stopword_ratio", "distinct_ratio",
)


def fit_quality_filter(df: DataFrame, label: str = "label",
                       features: tuple[str, ...] = QUALITY_MODEL_FEATURES,
                       max_iter: int = 50,
                       reg_param: float = 0.0) -> dict:
    """Fit a logistic-regression quality filter on a labeled frame
    (columns = ``features`` + binary ``label``); returns
    ``{"intercept": float, "coef": {feature: weight}}``."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    # skip, not keep: a single null/NaN feature row kept in the
    # assembled vector NaN-poisons the LBFGS gradient and the fit
    # silently returns an all-NaN model that scores NaN everywhere
    vec = VectorAssembler(
        inputCols=list(features), outputCol="_fv",
        handleInvalid="skip",
    )
    lr = LogisticRegression(
        featuresCol="_fv", labelCol=label, maxIter=max_iter,
        regParam=reg_param,
    )
    m = lr.fit(vec.transform(df.select(
        *features, F.col(label).cast("double").alias(label)
    )))
    return {
        "intercept": float(m.intercept),
        "coef": dict(zip(features, map(float, m.coefficients))),
    }


def quality_model_score(model: dict) -> Column:
    """P(good) under a fitted model, as a single JVM expression over
    the feature columns (pair with :func:`quality_features`)."""
    z = F.lit(model["intercept"])
    for name, w in model["coef"].items():
        z = z + F.lit(w) * F.col(name)
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def score_quality(df: DataFrame, model: dict,
                  text: str = "text") -> DataFrame:
    """quality_features + the model score, one scan end to end."""
    return quality_features(df, text).withColumn(
        "model_score", quality_model_score(model)
    )


# --- PII / URL scrubbing -------------------------------------------------
#
# The standard pretraining-corpus anonymization pass (C4 / FineWeb /
# Dolma all ship one): detect and redact emails, IPv4 addresses, and
# phone numbers, plus URL counting for blocklist-style filters.  All
# four patterns are written in the common Java-regex / RE2 subset
# (character classes, non-capturing groups, bounded repeats, ASCII
# \b) and verified to produce byte-identical matches and replacements
# in Spark (Java) and DuckDB (RE2) across an adversarial battery —
# invalid octets (256.1.1.1), digit-glued candidates, trailing dots,
# URLs that embed IPs — see tests/test_extensions.py::test_pii_*.
#
# Scale: every operator is a narrow codegen'd single-scan map over
# ``text`` — no shuffle, no Python, column-pruned to one column.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = (
    r"\b(?:(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\.){3}"
    r"(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\b"
)
PII_PHONE_RE = r"\(?\b[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}\b"
URL_RE = r"https?://[A-Za-z0-9.-]+(?::[0-9]+)?(?:/[^\s]*)?"

# Redaction order matters and is part of the contract: emails first
# (an address must not be half-eaten by the URL rule), then URLs
# (so an IP inside http://10.0.0.1/x is redacted as part of its URL,
# matching how blocklist filters treat it), then bare IPs, then
# phones.  Replacement tokens contain no digits, so no pass can
# manufacture a match for a later pass.
PII_REDACTIONS: tuple[tuple[str, str], ...] = (
    (PII_EMAIL_RE, "<EMAIL>"),
    (URL_RE, "<URL>"),
    (PII_IPV4_RE, "<IP>"),
    (PII_PHONE_RE, "<PHONE>"),
)

PII_COUNT_COLS: tuple[tuple[str, str], ...] = (
    ("n_emails", PII_EMAIL_RE),
    ("n_ipv4", PII_IPV4_RE),
    ("n_phones", PII_PHONE_RE),
    ("n_urls", URL_RE),
)


def pii_counts(text: Column | str = "text") -> dict[str, Column]:
    """Per-category PII/URL occurrence counts (pre-redaction: an IP
    that sits inside a URL counts in BOTH n_ipv4 and n_urls)."""
    c = F.col(text) if isinstance(text, str) else text
    return {
        name: F.regexp_count(c, F.lit(pat)).cast("long").alias(name)
        for name, pat in PII_COUNT_COLS
    }


def redact_pii(text: Column | str = "text") -> Column:
    """Replace every PII match with its category token, in the
    documented PII_REDACTIONS order."""
    c = F.col(text) if isinstance(text, str) else text
    for pat, token in PII_REDACTIONS:
        c = F.regexp_replace(c, F.lit(pat), F.lit(token))
    return c


def pii_features(df: DataFrame, text: str = "text") -> DataFrame:
    """Per-doc PII scrub frame: category counts + the redacted text.
    Kept a pure exchange-free map (plan-pinned): callers that need
    small-input parallelism ``spread`` the input themselves
    (plans/sizing.py)."""
    return df.select(
        "doc_id",
        *pii_counts(text).values(),
        redact_pii(text).alias("text_redacted"),
    )


def repetition_features(df: DataFrame, text: str = "text") -> DataFrame:
    """Per-doc repetition signals — the published pretraining-corpus
    repetition filters (Gopher-style rules, public papers): the
    fraction of duplicated word bigrams and the frequency share of
    the single most repeated token.  Both are narrow single-scan JVM
    expressions (zip_with bigrams; a per-distinct-token filter count
    — O(distinct·n) per doc, fine at document scale), no shuffle, and
    exactly mirrored in DuckDB list functions for the oracle.

    The token array is bound once (:func:`_with_tokens`): the former
    shape embedded ``split(text)`` inside the per-distinct-token
    count lambda, re-tokenizing the document once per distinct token
    (O(distinct·tokens) splits per doc)."""

    def feats(wv: Column) -> Column:
        n = F.size(wv)
        pair_len = F.greatest(n - F.lit(1), F.lit(0))
        bi = F.zip_with(
            F.slice(wv, 1, pair_len),
            F.slice(wv, 2, pair_len),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
        dup_bigram = F.when(
            F.size(bi) > 0,
            F.lit(1.0) - F.size(F.array_distinct(bi)) / F.size(bi),
        ).otherwise(F.lit(0.0))
        counts = F.transform(
            F.array_distinct(wv),
            lambda t: F.size(F.filter(wv, lambda x: x == t)),
        )
        top_token = F.coalesce(
            F.array_max(counts) / F.greatest(n, F.lit(1)),
            F.lit(0.0),
        )
        return F.struct(
            F.round(dup_bigram, 4).alias("d"),
            F.round(top_token, 4).alias("t"),
        )

    return spread(df).select(
        "doc_id", _with_tokens(text, feats).alias("_rf")
    ).select(
        "doc_id",
        F.col("_rf.d").alias("dup_bigram_ratio"),
        F.col("_rf.t").alias("top_token_ratio"),
    )
