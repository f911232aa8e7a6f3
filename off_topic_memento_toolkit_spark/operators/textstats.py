"""Training-data text analysis operators (100 TB-pipeline extras).

All pure JVM column algebra (no Python in the hot path):

- ``language_id``      — n-gram/stopword-ratio language heuristic
- ``quality_features`` — length / punctuation / stopword / uniqueness ratios
- ``token_counts``     — whitespace + regex (BPE-ish) token counting
- ``fingerprint``      — normalized-content digest for exact dedup
"""

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny per-language marker sets; enough for a deterministic heuristic
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "it"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "mit", "ein", "zu", "den"],
    "fr": ["le", "la", "et", "les", "des", "est", "dans", "que", "une", "pour"],
    "es": ["el", "la", "los", "las", "es", "que", "para", "una", "por", "con"],
}


def _tokens(text_col) -> Column:
    return F.split(F.lower(F.trim(text_col)), r"\s+")


def language_id(df: DataFrame, text_col: str = "text",
                out_col: str = "lang_pred") -> DataFrame:
    """Pick the language whose marker-word hit-ratio is highest (ties → first
    in registry order); 'und' when nothing matches."""
    tokens = _tokens(F.col(text_col))
    n = F.greatest(F.size(tokens), F.lit(1))
    result = df.withColumn("_toks", tokens)
    score_cols = {}
    for lang, markers in _LANG_MARKERS.items():
        # share of the token stream covered by marker words (with multiplicity)
        multiplicity = F.size(F.filter(
            F.col("_toks"),
            lambda t: t.isin(markers),
        ))
        score_cols[lang] = (multiplicity / n).cast("double")
    # two-pass when-chain keeps ties deterministic (first registry entry wins)
    max_score = F.greatest(*score_cols.values())
    chain = F.lit("und")
    for lang in reversed(list(_LANG_MARKERS)):
        chain = F.when(
            (score_cols[lang] >= max_score) & (max_score > 0), F.lit(lang)
        ).otherwise(chain)
    return result.withColumn(out_col, chain).drop("_toks")


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length, punctuation ratio, stopword ratio, distinct-token ratio —
    the standard web-text quality screens (C4/Gopher-style).

    Punctuation = anything outside Unicode letters/digits/underscore/
    whitespace: Java's bare ``\\w`` is ASCII-only, so ``[^\\w\\s]`` would
    count every CJK/Cyrillic/accented character as punctuation and
    quality_ok would reject entire non-Latin languages."""
    text = F.col(text_col)
    tokens = _tokens(text)
    blank = F.length(F.trim(F.coalesce(text, F.lit("")))) == 0
    # split('') yields [''] — report 0 tokens for empty/all-ws/null text
    n_tokens = F.when(blank, F.lit(0)).otherwise(F.size(tokens))
    n_chars = F.length(text)
    punct = n_chars - F.length(
        F.regexp_replace(text, r"[^\p{L}\p{N}_\s]", ""))
    stop_hits = F.size(F.filter(tokens, lambda t: t.isin(_LANG_MARKERS["en"])))
    distinct_ratio = F.size(F.array_distinct(tokens)) / F.greatest(n_tokens, F.lit(1))
    mean_word_len = (
        F.length(F.regexp_replace(text, r"\s+", "")) / F.greatest(n_tokens, F.lit(1))
    )
    return (
        df.withColumn("n_chars", n_chars)
        .withColumn("n_tokens_ws", n_tokens)
        .withColumn("punct_ratio", (punct / F.greatest(n_chars, F.lit(1))).cast("double"))
        .withColumn("stopword_ratio", (stop_hits / F.greatest(n_tokens, F.lit(1))).cast("double"))
        .withColumn("distinct_token_ratio", distinct_ratio.cast("double"))
        .withColumn("mean_word_len", mean_word_len.cast("double"))
        .withColumn(
            "quality_ok",
            (n_tokens >= 5)
            & (F.col("punct_ratio") < 0.3)
            & (F.col("distinct_token_ratio") > 0.2)
            & (F.col("mean_word_len") >= 2) & (F.col("mean_word_len") <= 12),
        )
    )


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace tokens plus a BPE-ish regex count (words, digits runs,
    punctuation marks counted separately) — the usual budget estimator.
    Empty/all-whitespace/null text counts 0 whitespace tokens (split('')
    yields [''], which would inflate corpus budgets by one per empty
    row)."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    ws = F.when(F.length(F.trim(text)) == 0, F.lit(0)) \
        .otherwise(F.size(F.split(F.trim(text), r"\s+")))
    bpe_ish = F.size(
        F.regexp_extract_all(text, F.lit(r"([A-Za-z]+|[0-9]|[^\sA-Za-z0-9])"), 1)
    )
    return df.withColumn("tokens_whitespace", ws) \
             .withColumn("tokens_bpe_ish", bpe_ish)


def fingerprint(df: DataFrame, text_col: str = "text",
                out_col: str = "fingerprint") -> DataFrame:
    """Digest of whitespace/case-normalized content — exact-dup key."""
    normalized = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return df.withColumn(out_col, F.md5(normalized))


def exact_duplicates(df: DataFrame, key_cols=("fingerprint",),
                     order_col: str | None = None) -> DataFrame:
    """Exact dedup: rows annotated with ``dup_group_size`` and
    ``is_canonical``.

    count+min are MAP-SIDE-COMBINABLE, so group stats reduce to one row per
    fingerprint before any data moves, and the join back is
    AQE-skew-splittable — a boilerplate fingerprint shared by 10^8 rows
    never lands on a single window task.  Canonical = minimum ``order_col``
    (null-safe): EXACTLY one per group when the order column is unique (a
    doc id); order ties mark every minimal row."""
    keys = list(key_cols)
    order = order_col or df.columns[0]
    stats = df.groupBy(*keys).agg(
        F.count("*").alias("dup_group_size"),
        F.min(order).alias("_min_order"),
    )
    # null-SAFE join: groupBy groups NULL keys together, but a plain equi-join
    # would silently drop those rows (NULL never equi-matches)
    stats = stats.select(
        *[F.col(k).alias(f"_k_{k}") for k in keys],
        "dup_group_size", "_min_order")
    cond = None
    for k in keys:
        clause = df[k].eqNullSafe(stats[f"_k_{k}"])
        cond = clause if cond is None else (cond & clause)
    return (
        df.join(stats, cond)
        # eqNullSafe: an all-NULL-order group still marks its rows canonical
        # instead of yielding is_canonical = NULL everywhere
        .withColumn("is_canonical",
                    F.col(order).eqNullSafe(F.col("_min_order")))
        .drop("_min_order", *[f"_k_{k}" for k in keys])
    )
