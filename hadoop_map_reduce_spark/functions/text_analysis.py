"""Text-analysis column functions for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting.

All pure Column expressions (JVM-side, codegen) — these run over every
document of a 100 TB corpus, so no Python UDFs. Each has an equivalent
DuckDB SQL formulation used by the oracle queries; expression shapes are
kept identical so double arithmetic is bit-equal across engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny deterministic stopword lists per language. This is a heuristic
# n-gram/stopword language identifier, not a trained model: the point is
# the distributed plumbing and a deterministic, oracle-checkable output.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "you", "that"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ich", "ein", "eine", "zu"],
    "fr": ["le", "la", "et", "les", "des", "un", "une", "est", "je", "pas"],
    "es": ["el", "los", "las", "de", "y", "que", "en", "un", "una", "es"],
}

#: Modulus for the rolling fingerprint (2^31 - 1, Mersenne prime).
FINGERPRINT_MOD = 2147483647

#: BPE-ish token pattern: letter runs, single digits, single punctuation.
BPE_TOKEN_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def stopword_hits(tokens: Column, lang: str) -> Column:
    """Number of tokens (with duplicates) found in ``lang``'s stopword list."""
    stop = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(tokens, lambda t: F.array_contains(stop, t)))


def lang_id(tokens: Column) -> Column:
    """Deterministic argmax over per-language stopword hits.

    Cascade order en → de → fr → es (ties resolve to the earlier
    language); all-zero hits → 'unknown'. Mirrors the oracle's CASE chain
    exactly.
    """
    c = {lang: stopword_hits(tokens, lang) for lang in STOPWORDS}
    return (
        F.when(
            (c["en"] + c["de"] + c["fr"] + c["es"]) == 0, F.lit("unknown")
        )
        .when(c["en"] >= F.greatest(c["de"], c["fr"], c["es"]), F.lit("en"))
        .when(c["de"] >= F.greatest(c["fr"], c["es"]), F.lit("de"))
        .when(c["fr"] >= c["es"], F.lit("fr"))
        .otherwise(F.lit("es"))
    )


def ws_token_count(tokens: Column) -> Column:
    return F.size(tokens).cast("long")


def bpe_token_count(text: Column) -> Column:
    """Count of BPE-ish tokens (letter runs / digits / punct singletons)."""
    return F.regexp_count(text, F.lit(BPE_TOKEN_PATTERN)).cast("long")


def quality_score(text: Column, tokens: Column) -> Column:
    """Composite quality heuristic in [0, 1]: length, stopword density,
    alpha ratio. Written as one double expression with a fixed shape so
    the oracle reproduces it bit-exactly."""
    n_tok = F.size(tokens)
    stop_ratio = stopword_hits(tokens, "en") / n_tok
    alpha_chars = F.length(F.regexp_replace(text, r"[^A-Za-z]+", ""))
    alpha_ratio = alpha_chars / F.length(text)
    len_component = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    return (
        F.lit(0.3) * len_component
        + F.lit(0.4) * stop_ratio
        + F.lit(0.3) * alpha_ratio
    )


def char_codes(text: Column) -> Column:
    """Array of unicode codepoints of the characters of ``text``."""
    return F.transform(
        F.filter(F.split(text, ""), lambda ch: ch != F.lit("")),
        lambda ch: F.ascii(ch).cast("long"),
    )


def fingerprint(text: Column) -> Column:
    """Rolling polynomial hash over characters: h = (31*h + code) mod 2^31-1.

    A classic Rabin-Karp-style document fingerprint — stable across
    engines and runs (unlike murmur-based ``hash()``, which differs
    between Spark and other systems).
    """
    return F.aggregate(
        char_codes(text),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + c) % FINGERPRINT_MOD,
    )
