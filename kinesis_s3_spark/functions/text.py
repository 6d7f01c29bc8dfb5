"""Text-analysis column functions for the LLM-data-pipeline surface
(north-star extension; BASELINE.json): tokenization, quality signals,
language ID, fingerprinting.

Everything here is built-in pyspark.sql.functions expressions — no
Python UDFs — so the hot path stays in whole-stage codegen and scales
with the scan. Regex character classes are ASCII-explicit so Spark
(Java regex) and DuckDB (RE2) agree.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

WS = r"\s+"


def tokens(text: Column) -> Column:
    """Whitespace tokenization of trimmed text."""
    return F.split(F.trim(text), WS)


def token_count(text: Column) -> Column:
    return F.when(F.length(F.trim(text)) == 0, F.lit(0)).otherwise(F.size(tokens(text)))


def _class_count(text: Column, char_class: str) -> Column:
    """#chars matching a regex class = len - len(class stripped)."""
    return F.length(text) - F.length(F.regexp_replace(text, char_class, ""))


def quality_signals(text: Column) -> dict[str, Column]:
    """Ratios a quality filter scores on (length, punctuation,
    digit/alpha balance, uppercase shouting)."""
    n = F.length(text).cast("double")
    safe_n = F.when(n == 0, F.lit(1.0)).otherwise(n)
    return {
        "n_chars": F.length(text),
        "n_tokens": token_count(text),
        "alpha_ratio": _class_count(text, "[a-zA-Z]") / safe_n,
        "digit_ratio": _class_count(text, "[0-9]") / safe_n,
        "punct_ratio": _class_count(text, r"[!-/:-@\[-`{-~]") / safe_n,
        "space_ratio": _class_count(text, r"\s") / safe_n,
        "upper_ratio": _class_count(text, "[A-Z]") / safe_n,
    }


# Tiny per-language stopword seeds for n-gram/stopword language ID.
# Deterministic and oracle-expressible; a production detector would use
# character n-gram profiles, same plumbing.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es"),
    "fr": ("le", "la", "de", "et", "un", "en", "est", "que"),
    "de": ("der", "die", "und", "das", "ist", "ein", "in", "zu"),
    "zh": ("的", "是", "了", "在", "和", "有", "我", "不"),
}


def stopword_hits_from_tokens(toks: Column, lang: str) -> Column:
    """#tokens that are stopwords of ``lang`` (tokens pre-lowercased)."""
    return F.size(F.filter(toks, lambda w: w.isin(*LANG_STOPWORDS[lang])))


def argmax_lang(scores: dict[str, Column]) -> Column:
    """argmax language over MATERIALIZED score columns, ties broken by
    fixed lang order (en,es,fr,de,zh); zero hits → 'und'. Callers on
    the hot path must bind each score to a real column first — the
    when-chain references every score twice and tokenizes per score if
    given raw expressions."""
    best_lang = F.lit("und")
    best_score = F.lit(0)
    for lang in LANG_STOPWORDS:  # later langs must strictly beat earlier
        cond = scores[lang] > best_score
        best_lang = F.when(cond, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(cond, scores[lang]).otherwise(best_score)
    return best_lang


def normalized_text(text: Column) -> Column:
    """Canonical form for fuzzy-exact dedup: lowercase, collapse
    whitespace, sort tokens (word-order-insensitive fingerprint)."""
    return F.array_join(F.array_sort(tokens(F.lower(text))), " ")


def fingerprint(text: Column) -> Column:
    """128-bit content fingerprint of the normalized text."""
    return F.md5(normalized_text(text))


def ngrams_from_tokens(toks: Column, n: int) -> Column:
    """Word n-grams (space-joined shingles) from a MATERIALIZED token
    array column. Callers must bind the tokenization to a real column
    (withColumn) first: Catalyst does not CSE subexpressions inside
    transform() lambdas, so passing ``split(...)`` directly would
    re-split the text at every element access — O(n²) per row."""
    k = F.size(toks) - (n - 1)
    idx = F.sequence(F.lit(0), F.greatest(k - 1, F.lit(-1)))
    return F.transform(
        idx,
        lambda i: F.concat_ws(" ", *[F.get(toks, i + j) for j in range(n)]),
    )
