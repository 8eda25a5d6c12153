"""Text-analysis operators for large-scale training-data pipelines.

These are JVM-side column expressions (whole-stage codegen, no Python in the
hot path) designed so each has an exactly-equivalent ANSI/DuckDB SQL oracle:

- token counting (whitespace + BPE-ish regex pieces)
- quality scoring (length / punctuation / stopword ratios)
- language ID (stopword-hit n-gram heuristic over a fixed table)
- document fingerprinting (polynomial rolling hash over code points, modular
  arithmetic kept under 2^31 so every engine computes identical values)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# small fixed stopword tables (top function words); the *heuristic* is the
# operator — the tables are part of its config
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "von", "zu"],
    "fr": ["le", "la", "et", "les", "des", "est", "un", "une", "dans", "que"],
    "es": ["el", "la", "que", "de", "los", "es", "un", "una", "por", "con"],
}

FP_MOD = 2_147_483_647  # 2^31 - 1, keeps every intermediate in int64
FP_BASE = 131


def tokens_col(text: str | Column) -> Column:
    """Whitespace tokenization (parity with str.split() on space-ish input)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.lower(c), r"\s+"), lambda t: t != "")


def token_count(text: str | Column) -> Column:
    return F.size(tokens_col(text)).cast("long")


def bpe_piece_count(text: str | Column) -> Column:
    """BPE-ish sub-token count: splits on whitespace AND letter/digit/punct
    boundaries (a cheap proxy for BPE piece counts)."""
    c = F.col(text) if isinstance(text, str) else text
    pieces = F.filter(
        F.split(F.lower(c), r"(\s+|(?<=[a-z])(?=[0-9])|(?<=[0-9])(?=[a-z])|(?<=[a-z0-9])(?=[^a-z0-9\s])|(?<=[^a-z0-9\s])(?=[a-z0-9]))"),
        lambda t: t != "",
    )
    return F.size(pieces).cast("long")


def stopword_hits(text: str | Column, lang: str) -> Column:
    toks = tokens_col(text)
    words = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(toks, lambda t: F.array_contains(words, t))).cast("long")


def quality_features(df: DataFrame, text_col: str) -> DataFrame:
    """Adds n_chars/n_tokens/punct_ratio/stopword_ratio/mean_token_len/quality."""
    c = F.col(text_col)
    toks = tokens_col(c)
    n_chars = F.length(c).cast("long")
    n_tokens = F.size(toks).cast("long")
    n_punct = (
        n_chars - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    ).cast("long")
    sw = stopword_hits(c, "en")
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tokens > 0, sw / n_tokens).otherwise(F.lit(0.0))
    mean_tok = F.when(n_tokens > 0, (n_chars - (n_tokens - 1)) / n_tokens).otherwise(
        F.lit(0.0)
    )
    # simple composite score in [0,1]: long-enough, low punctuation,
    # some function words
    quality = F.round(
        F.least(n_tokens / F.lit(20.0), F.lit(1.0)) * (1.0 - punct_ratio) * F.least(stop_ratio * 5.0 + 0.5, F.lit(1.0)),
        6,
    )
    return df.select(
        "*",
        n_chars.alias("n_chars_q"),
        n_tokens.alias("n_tokens"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        quality.alias("quality"),
    )


def langid(df: DataFrame, text_col: str) -> DataFrame:
    """Stopword-hit language ID with deterministic tie-break (alphabetical
    language code order, 'und' when no hits)."""
    c = F.col(text_col)
    scores = [stopword_hits(c, lang).alias(f"hits_{lang}") for lang in sorted(STOPWORDS)]
    scored = df.select("*", *scores)
    best = F.greatest(*[F.col(f"hits_{lang}") for lang in sorted(STOPWORDS)])
    lang_expr = F.when(best <= 0, F.lit("und"))
    for lang in sorted(STOPWORDS):
        lang_expr = lang_expr.when(F.col(f"hits_{lang}") == best, F.lit(lang))
    return scored.withColumn("lang_pred", lang_expr)


def fingerprint(text: str | Column) -> Column:
    """Polynomial rolling hash over code points:
    fp = sum(cp_i * BASE^i) mod (2^31-1), computed left-to-right as
    fp = (fp*BASE + cp) mod M — identical in Spark and DuckDB int64 math."""
    c = F.col(text) if isinstance(text, str) else text
    chars = F.split(c, "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * FP_BASE + F.ascii(ch)) % FP_MOD,
    )
