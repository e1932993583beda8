"""Text-analysis column expressions for training-data pipelines.

All hot-path functions are pure Catalyst expressions (no Python UDFs):
tokenization, token counts, quality heuristics, language ID, and
document fingerprints run JVM-side at 100 TB. The reference has no
text surface beyond semicolon splits (reference Main.java:535-547);
these are the north-star extensions (BASELINE.json).

``ws_tokens`` and ``shingles`` take and return Spark SQL expression
text (one JVM call per projection, see functions/scalar.py); the rest
take a column name and return a Column.

Bind once: a lambda body re-evaluates every outer expression it
references once per ELEMENT, not once per row, and the optimizer
inlines a projected column into the lambda that reads it. So a
per-row array that a lambda indexes (the token array a shingle
lambda slices) is bound once, as the variable of a one-element
``transform(array(<per-row value>), v -> <body over v>)[0]``; a
tokenizer written inside the per-shingle lambda would regex-split the
whole document once per shingle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from gcd_etl_spark.functions.scalar import sql_str

#: Whitespace tokenizer pattern.
WS_PATTERN = r"\s+"

#: BPE-ish word/punct pattern: words (with apostrophes), numbers, or
#: single non-space symbols — a cheap approximation of byte-pair
#: pre-tokenization for token *counting* purposes.
BPE_ISH_PATTERN = r"[A-Za-z]+(?:'[A-Za-z]+)?|\d+|[^\sA-Za-z\d]"

#: Tiny per-language stopword lists for the n-gram/stopword language
#: heuristic. Deliberately short: the goal is a deterministic, cheap,
#: JVM-side signal, not a real LID model.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "del", "las", "por"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une", "du", "est"],
    "de": ["der", "die", "und", "das", "ist", "von", "den", "mit", "für", "auf"],
}


def ws_tokens(expr: str) -> str:
    """Whitespace tokens, empty-safe (no empty-string tokens)."""
    return f"filter(split(trim({expr}), {sql_str(WS_PATTERN)}), t -> t != '')"


def token_count(col: str) -> Column:
    """Whitespace token count."""
    return F.size(F.expr(ws_tokens(col)))


def bpe_ish_token_count(col: Column | str) -> Column:
    """Count of BPE-ish pre-tokens (words / numbers / symbols)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), F.lit(0)))


def char_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.length(c)


def punct_ratio(col: Column | str) -> Column:
    """Fraction of characters that are ASCII punctuation."""
    c = F.col(col) if isinstance(col, str) else col
    punct = F.length(c) - F.length(F.regexp_replace(c, r"[!-/:-@\[-`{-~]", ""))
    return F.when(F.length(c) > 0, punct / F.length(c)).otherwise(F.lit(None))


def stopword_ratio(col: str, lang: str = "en") -> Column:
    """Fraction of whitespace tokens that are (lowercased) stopwords."""
    toks = F.expr(ws_tokens(col))
    stops = F.array(*[F.lit(s) for s in STOPWORDS[lang]])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stops, F.lower(t))))
    return F.when(F.size(toks) > 0, n_stop / F.size(toks)).otherwise(F.lit(None))


def mean_word_length(col: str) -> Column:
    toks = F.expr(ws_tokens(col))
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return F.when(F.size(toks) > 0, total / F.size(toks)).otherwise(F.lit(None))


def quality_score(col: str) -> Column:
    """Composite [0,1] quality heuristic.

    Blend of length band, punctuation sanity, stopword presence, and
    mean-word-length band — the standard cheap pre-filter shape for
    LLM corpus curation (C4/Gopher-style rules), all codegen'd.
    """
    c = F.col(col)
    n = F.length(c)
    len_ok = F.when((n >= 50) & (n <= 20000), F.lit(1.0)).otherwise(
        F.when(n > 0, F.lit(0.3)).otherwise(F.lit(0.0))
    )
    pr = F.coalesce(punct_ratio(c), F.lit(1.0))
    punct_ok = F.when(pr <= 0.2, F.lit(1.0)).otherwise(F.greatest(F.lit(0.0), 1.0 - (pr - 0.2) * 2.5))
    sr = F.coalesce(stopword_ratio(col), F.lit(0.0))
    stop_ok = F.when(sr >= 0.05, F.lit(1.0)).otherwise(sr / 0.05)
    mwl = F.coalesce(mean_word_length(col), F.lit(0.0))
    mwl_ok = F.when((mwl >= 3.0) & (mwl <= 12.0), F.lit(1.0)).otherwise(F.lit(0.4))
    return F.round((len_ok + punct_ok + stop_ok + mwl_ok) / 4.0, 4)


def lang_id(col: str, langs: tuple[str, ...] = ("en", "es", "fr", "de")) -> Column:
    """Stopword-vote language guess; 'und' when no language scores.

    Deterministic tie-break: higher score wins, then earlier position
    in ``langs``.
    """
    toks_lower = F.transform(F.expr(ws_tokens(col)), lambda t: F.lower(t))
    best_lang = F.lit("und")
    best_score = F.lit(0)
    # Iterate in reverse so earlier langs win ties via strict >.
    scores = []
    for lang in langs:
        stops = F.array(*[F.lit(s) for s in STOPWORDS[lang]])
        scores.append((lang, F.size(F.filter(toks_lower, lambda t: F.array_contains(stops, t)))))
    for lang, score in reversed(scores):
        best_lang = F.when(score >= F.greatest(best_score, F.lit(1)), F.lit(lang)).otherwise(best_lang)
        best_score = F.greatest(best_score, score)
    return best_lang


def fingerprint64(col: Column | str) -> Column:
    """64-bit document fingerprint (xxhash64 of normalized text).

    Content-defined identity for exact dedup at scale: whitespace
    runs collapsed + lowercased, then hashed JVM-side. Two documents
    equal after normalization share a fingerprint.
    """
    c = F.col(col) if isinstance(col, str) else col
    normalized = F.lower(F.regexp_replace(F.trim(c), r"\s+", " "))
    return F.xxhash64(normalized)


def shingles(expr: str, k: int = 3) -> str:
    """Word k-shingles (n-grams joined by space), distinct.

    Building block for MinHash / Jaccard dedup. Pure expression:
    transform-over-index + slice + array_join + array_distinct. The
    token array is bound once per row as the variable of a
    one-element ``transform`` (see the module docstring). NULL text
    gives ``[]``, like a document shorter than k.
    """
    # sequence(1, m) is DESCENDING when m < 1 — guard short docs.
    grams = (
        f"transform(sequence(1, size(shingle_toks) - {k - 1}), "
        f"shingle_start -> array_join(slice(shingle_toks, shingle_start, {k}), ' '))"
    )
    per_row = (
        f"CASE WHEN size(shingle_toks) >= {k} THEN array_distinct({grams}) "
        "ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    return f"transform(array({ws_tokens(expr)}), shingle_toks -> {per_row})[0]"
