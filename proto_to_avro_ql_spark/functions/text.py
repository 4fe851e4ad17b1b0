"""Text-analysis column functions for the training-data pipeline layer
(SURVEY.md §2.9; BASELINE.json north_star: text analysis at 100 TB).

Everything here is built-in-expression only (split/regexp/length/
aggregate) — JVM-side, whole-stage-codegen, no Python in the hot path.
Language-ID is an n-gram/stopword heuristic expressed as regexp counts
so it stays a narrow projection over the scan.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# --- normalization ---------------------------------------------------------


# RE2's \s (the oracles' DuckDB regexp_replace): Java's \s also matches
# the vertical tab \x0B, which would split tokens the oracles keep whole.
_WS_RE = r"[ \t\n\f\r]+"


def normalize_text(col: Column) -> Column:
    """Canonical form for near-dup hashing: lowercase, collapse
    whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(col), _WS_RE, " "))


def tokens(col: Column) -> Column:
    """Whitespace tokens of the normalized text — the one tokenizer of
    the text/LM family. Blank text yields ``[""]`` (Spark's split of an
    empty string), so callers that count or pair tokens use
    :func:`nonempty_tokens`."""
    return F.split(normalize_text(col), " ")


def nonempty_tokens(col: Column) -> Column:
    """:func:`tokens` without empty strings: blank text → ``[]``. The
    Spark twin of the oracles' ``list_filter(string_split(…), x -> x <> '')``."""
    return F.filter(tokens(col), lambda x: x != F.lit(""))


def fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 of the normalized text (deterministic,
    engine-portable)."""
    return F.md5(normalize_text(col))


# --- stats -----------------------------------------------------------------


def char_length(col: Column) -> Column:
    return F.length(col)


def token_count_ws(col: Column) -> Column:
    """Whitespace tokenization count; empty/blank → 0."""
    return F.when(normalize_text(col) == "", F.lit(0)).otherwise(F.size(tokens(col)))


WORD_RE = "[A-Za-z0-9]+"


def token_count_word(col: Column) -> Column:
    """BPE-ish word-token count: alnum runs (sub-word punctuation splits,
    the cheap proxy for BPE pre-tokenization)."""
    return F.regexp_count(col, F.lit(WORD_RE))


# GPT-2-style pre-tokenizer, restricted to the regex subset Java
# (Spark) and RE2 (DuckDB) evaluate identically: contraction
# suffixes, space-prefixed letter runs, digit runs, and punctuation
# runs. The upstream pattern's trailing-whitespace lookahead is
# dropped (RE2 has no lookahead); whitespace between matches is
# simply not counted, which matches BPE accounting closely enough
# for budget estimation.
BPE_RE = r"'(?:s|d|m|t|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s']+"


def token_count_bpe(col: Column) -> Column:
    """BPE pre-tokenizer token count (the budget unit LLM pipelines
    plan with — closer to real tokenizer counts than whitespace
    splitting because punctuation and contractions split off)."""
    return F.regexp_count(col, F.lit(BPE_RE))


def punct_ratio(col: Column) -> Column:
    n = F.length(col)
    p = F.regexp_count(col, F.lit(r"[^A-Za-z0-9\s]"))
    return F.when(n == 0, F.lit(0.0)).otherwise(F.round(p / n, 6))


def stopword_ratio(col: Column, stopwords: tuple[str, ...] = ("the", "a", "and", "of", "to")) -> Column:
    """Fraction of whitespace tokens that are (English) stopwords."""
    toks = tokens(col)
    hits = F.size(F.filter(toks, lambda t: t.isin(*stopwords)))
    n = F.size(toks)
    return F.when(n == 0, F.lit(0.0)).otherwise(F.round(hits / n, 6))


def quality_score(col: Column) -> Column:
    """Composite quality heuristic in [0,1]: length band + low punct +
    some stopwords (the classic cheap pre-filter before LLM training)."""
    n = F.length(col)
    len_ok = F.when((n >= 50) & (n <= 100000), F.lit(0.4)).otherwise(F.lit(0.0))
    punct_ok = F.when(punct_ratio(col) < 0.1, F.lit(0.3)).otherwise(F.lit(0.0))
    stop_ok = F.when(stopword_ratio(col) > 0.01, F.lit(0.3)).otherwise(F.lit(0.0))
    return F.round(len_ok + punct_ok + stop_ok, 2)


# --- language id -----------------------------------------------------------

# Marker-word regexes per language (tiny n-gram heuristic; word-boundary
# anchored). Deterministic and SQL-portable.
LANG_MARKERS: dict[str, str] = {
    "en": r"\b(the|and|of|is|was|with)\b",
    "de": r"\b(der|die|das|und|ist|nicht)\b",
    "es": r"\b(el|la|los|las|es|para)\b",
    "fr": r"\b(le|les|des|est|une|avec)\b",
    "zh": r"[一-鿿]",
}


def lang_scores(col: Column) -> dict[str, Column]:
    low = F.lower(col)
    return {lang: F.regexp_count(low, F.lit(pat)) for lang, pat in LANG_MARKERS.items()}


def lang_id(col: Column) -> Column:
    """argmax over marker-hit counts, 'und' (undetermined) when all zero.
    Ties broken by language-code order for determinism."""
    scores = lang_scores(col)
    best = F.greatest(*scores.values())
    expr = F.lit("und")
    for lang in sorted(LANG_MARKERS, reverse=True):
        expr = F.when((scores[lang] == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr
