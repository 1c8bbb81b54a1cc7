"""Text-analysis column functions (north-star additions, SURVEY.md §2.6).

All are native Catalyst expressions (regexp/split/aggregate) so they run
inside whole-stage codegen over a 100 TB `documents` scan with zero Python.
Regex patterns are restricted to the syntax subset that behaves identically
in Java regex (Spark) and RE2 (the DuckDB oracle): character classes,
alternation, ``\\s``/``\\b``, POSIX ``[[:punct:]]``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny multi-language stopword inventory for the language-ID heuristic and
# stopword-ratio scoring.  Deliberately small + fixed so the oracle SQL can
# embed the same lists.
STOPWORDS = {
    "en": ("the", "a", "and", "of", "to", "in", "is", "it", "that", "for"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es", "se", "no"),
    "fr": ("le", "la", "de", "et", "les", "des", "en", "un", "du", "une"),
    "de": ("der", "die", "und", "den", "von", "zu", "das", "mit", "sich", "des"),
}

# BPE-ish tokenizer regex: letter runs | single digits | single non-space
# symbol — a deterministic, SQL-portable stand-in for a GPT-style pre-tokenizer.
BPE_TOKEN_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"

# Explicit ASCII punctuation class: Java regex does NOT support POSIX
# [[:punct:]], so spell the set out — identical semantics in Java and RE2.
PUNCT_PATTERN = r"""[!"#$%&'()*+,\-./:;<=>?@\[\\\]^_`{|}~]"""


def _c(x: Column | str) -> Column:
    return F.col(x) if isinstance(x, str) else x


def token_count_ws(text: Column | str) -> Column:
    """Whitespace token count; empty/blank text counts 0."""
    t = F.trim(_c(text))
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+"))).cast("int")


def token_count_bpe(text: Column | str) -> Column:
    """Count of BPE-ish pre-tokens (see BPE_TOKEN_PATTERN)."""
    return F.regexp_count(_c(text), F.lit(BPE_TOKEN_PATTERN)).cast("int")


def punct_ratio(text: Column | str) -> Column:
    """ASCII-punctuation chars / total chars (0.0 for empty text)."""
    t = _c(text)
    n = F.length(t)
    return F.when(n == 0, F.lit(0.0)).otherwise(
        F.regexp_count(t, F.lit(PUNCT_PATTERN)).cast("double") / n.cast("double")
    )


def _word_hits(text: Column, words: tuple[str, ...]) -> Column:
    pat = r"\b(" + "|".join(words) + r")\b"
    return F.regexp_count(F.lower(text), F.lit(pat))


def stopword_ratio(text: Column | str, lang: str = "en") -> Column:
    """Stopword hits / whitespace tokens (0.0 for empty text)."""
    t = _c(text)
    n = token_count_ws(t)
    return F.when(n == 0, F.lit(0.0)).otherwise(
        F.least(_word_hits(t, STOPWORDS[lang]).cast("double") / n.cast("double"), F.lit(1.0))
    )


def lang_scores(text: Column | str) -> dict[str, Column]:
    """Per-language stopword-hit rate (hits per whitespace token): the
    language-ID heuristic takes the argmax, tie-break en > es > fr > de."""
    t = _c(text)
    n = token_count_ws(t).cast("double")
    return {
        lang: F.when(n == 0, F.lit(0.0)).otherwise(_word_hits(t, words).cast("double") / n)
        for lang, words in STOPWORDS.items()
    }


def quality_score(text: Column | str, lang: str = "en") -> Column:
    """Heuristic document-quality score in [0,1] (cf. C4/Gopher-style rules):

    0.4 * length_component (saturating at 2000 chars)
    + 0.3 * stopword component (clipped stopword_ratio * 5)
    + 0.3 * (1 - punctuation-excess component)
    """
    t = _c(text)
    length_c = F.least(F.length(t).cast("double") / F.lit(2000.0), F.lit(1.0))
    stop_c = F.least(stopword_ratio(t, lang) * 5.0, F.lit(1.0))
    punct_c = F.greatest(F.lit(0.0), F.lit(1.0) - punct_ratio(t) * 5.0)
    return 0.4 * length_c + 0.3 * stop_c + 0.3 * punct_c


def md5_fingerprint(text: Column | str, length: int = 16) -> Column:
    """Content fingerprint: md5 of lowercased, whitespace-collapsed text.

    Deterministic + engine-portable (md5 is identical everywhere); the
    normalization makes it a *near*-exact fingerprint (whitespace/case
    insensitive), the cheap first stage of a dedup cascade.
    """
    normalized = F.regexp_replace(F.lower(_c(text)), r"\s+", " ")
    return F.substring(F.md5(F.trim(normalized)), 1, length)


def rolling_hash(text: Column | str, base: int = 131, mod: int = 1_000_000_007) -> Column:
    """Polynomial rolling hash over characters: acc = (acc*base + code) % mod.

    Native ``aggregate`` fold over the char array — stays in codegen.  BIGINT
    intermediate stays < base*mod so no overflow.
    """
    chars = F.filter(F.split(_c(text), ""), lambda ch: ch != "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * base + F.coalesce(F.ascii(ch).cast("long"), F.lit(0))) % mod,
    )


def word_shingles(text: Column | str, n: int = 5) -> Column:
    """Array of word n-gram shingles (the MinHash/Jaccard input unit).

    Pure higher-order-function pipeline: tokenize → slice windows → join.
    Documents with fewer than ``n`` tokens yield a single whole-text shingle
    so short docs still participate in dedup.
    """
    toks = F.split(F.trim(F.lower(_c(text))), r"\s+")
    k = F.size(toks)
    windows = F.transform(
        F.sequence(F.lit(1), F.greatest(k - n + 1, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return windows
