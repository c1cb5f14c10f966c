"""Text-analysis operators for large-scale training-data pipelines.

All JVM-side (built-in ``pyspark.sql.functions`` — whole-stage codegen,
no Python in the hot path), designed over a ``documents(doc_id, text,
lang, source, n_chars)``-shaped table but applicable to any text column.

Operators: language-ID (script/stopword n-gram heuristic), quality
scoring (length/punct/stopword ratios), token counting (whitespace + a
BPE-ish regex), document fingerprinting (normalized-content hash +
rolling word-shingle hash).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny embedded stopword lists for the heuristic language scorer
_EN_STOP = ["the", "a", "and", "of", "to", "in", "is", "it", "for", "on"]
_ES_STOP = ["el", "la", "de", "que", "y", "en", "un", "es", "los", "del"]
_DE_STOP = ["der", "die", "das", "und", "ist", "von", "mit", "ein", "zu", "den"]


def ws_tokens(text: Column) -> Column:
    """Whitespace tokenization of lowercased text (empty-safe) — the one
    token expression of the text operators, dedup and the contract."""
    return F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != "")


def with_token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish subword estimate.

    ``n_tokens_ws`` = whitespace tokens; ``n_tokens_bpe`` = count of
    maximal runs matching a GPT-style pre-tokenizer regex approximation
    (letter-runs, digit-runs, punctuation singletons) — a deterministic
    stand-in for a real BPE vocab; ``n_chars_`` for normalization.
    """
    c = F.col(text_col)
    bpe_ish = F.regexp_count(c, F.lit(r"[A-Za-z가-힣]+|[0-9]{1,3}|[^\sA-Za-z0-9가-힣]"))
    return (
        df.withColumn("n_tokens_ws", F.size(ws_tokens(c)))
        .withColumn("n_tokens_bpe", bpe_ish.cast("int"))
        .withColumn("n_chars_", F.length(c).cast("int"))
    )


def with_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID.

    Script detection first (Hangul / CJK / Cyrillic ratios), then a
    stopword-vote among Latin-script candidates. Pure SQL expressions —
    runs entirely in codegen; oracle-able in ANSI SQL.
    """
    c = F.col(text_col)
    length = F.greatest(F.length(c), F.lit(1))
    hangul = F.regexp_count(c, F.lit(r"[가-힣]")) / length
    toks = ws_tokens(c)
    n_toks = F.greatest(F.size(toks), F.lit(1))

    def stop_ratio(words):
        arr = F.array(*[F.lit(w) for w in words])
        return F.size(F.filter(toks, lambda t: F.array_contains(arr, t))) / n_toks

    en, es, de = stop_ratio(_EN_STOP), stop_ratio(_ES_STOP), stop_ratio(_DE_STOP)
    pred = (
        F.when(hangul > 0.3, F.lit("ko"))
        .when((en >= es) & (en >= de) & (en > 0), F.lit("en"))
        .when((es >= de) & (es > 0), F.lit("es"))
        .when(de > 0, F.lit("de"))
        .otherwise(F.lit("und"))
    )
    return df.withColumn("lang_pred", pred)


def with_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality scoring: length / punctuation / stopword / repetition
    signals combined into a [0,1] score (C4/Gopher-style filters)."""
    c = F.col(text_col)
    toks = ws_tokens(c)
    n_toks = F.greatest(F.size(toks), F.lit(1))
    length = F.greatest(F.length(c), F.lit(1))
    punct_ratio = F.regexp_count(c, F.lit(r"[^\w\s]")) / length
    stop_arr = F.array(*[F.lit(w) for w in _EN_STOP])
    stop_ratio = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t))) / n_toks
    distinct_ratio = F.size(F.array_distinct(toks)) / n_toks
    mean_word_len = (F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
                     / n_toks)
    length_ok = F.when((n_toks >= 5) & (n_toks <= 100000), 1.0).otherwise(0.0)
    word_len_ok = F.when((mean_word_len >= 2) & (mean_word_len <= 15), 1.0).otherwise(0.0)
    punct_ok = F.when(punct_ratio <= 0.3, 1.0).otherwise(0.0)
    score = (0.3 * length_ok + 0.2 * word_len_ok + 0.2 * punct_ok
             + 0.15 * F.least(stop_ratio * 5, F.lit(1.0))
             + 0.15 * distinct_ratio)
    return (
        df.withColumn("punct_ratio", F.round(punct_ratio, 6))
        .withColumn("stopword_ratio", F.round(stop_ratio, 6))
        .withColumn("distinct_ratio", F.round(distinct_ratio, 6))
        .withColumn("quality_score", F.round(score, 6))
    )


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprinting.

    ``fp_norm``: md5 of whitespace-normalized lowercased text (exact-dup
    identity robust to spacing); ``fp_shingle``: md5 of the sorted top-4
    word 3-shingle hashes (a deterministic rolling-hash-style sketch —
    robust to local edits).
    """
    c = F.col(text_col)
    norm = F.regexp_replace(F.trim(F.lower(c)), r"\s+", " ")
    # tokens materialized in their own Project: `toks[i + 1]` inside
    # the transform lambda would otherwise re-run split(lower(text))
    # per shingle (codegen subexpression elimination does not reach
    # into lambda bodies — same fix as ops.dedup._shingle_df, r9)
    with_toks = df.withColumn("_fp_toks", ws_tokens(c))
    toks = F.col("_fp_toks")
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - 3, F.lit(0)))
    shingles = F.when(n >= 3, F.transform(
        idx, lambda i: F.concat_ws(" ", toks[i], toks[i + 1], toks[i + 2])
    )).otherwise(F.array(norm))
    sh_hashes = F.transform(shingles, lambda s: F.substring(F.md5(s), 1, 16))
    top4 = F.slice(F.array_sort(sh_hashes), 1, 4)
    return (
        with_toks.withColumn("fp_norm", F.md5(norm))
        .withColumn("fp_shingle", F.md5(F.concat_ws("|", top4)))
        .drop("_fp_toks")
    )
