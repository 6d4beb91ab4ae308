"""Text-analysis column expressions for the training-data pipeline surface.

All pure Column expressions (JVM-side, codegen-friendly).  Tokenization is
literal-single-space split — the synthetic corpus is space-joined — with
empties filtered so leading/trailing spaces can't skew counts.

The constants here are shared with the DuckDB oracle generators in
hnarchive_spark/plans/textops.py so both sides compute the same thing.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Marker stopword lists per language for the n-gram/stopword language-ID
# heuristic. Deliberately disjoint so argmax is unambiguous.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "die", "das", "und"),
    "es": ("el", "los", "una", "y"),
    "fr": ("le", "les", "une", "et"),
    "zh": ("de5", "le5", "shi4"),  # romanized placeholders
}
# Deterministic tiebreak order for equal scores.
LANG_ORDER = ("en", "de", "es", "fr", "zh")

EN_STOPWORDS = LANG_MARKERS["en"]

# BPE-ish subtoken pattern: letter runs, digit runs, single other glyphs.
SUBTOKEN_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def tokens(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(c, " "), lambda w: w != "")


def n_tokens(text: Column | str) -> Column:
    return F.size(tokens(text))


def sum_token_len(text: Column | str) -> Column:
    return F.aggregate(
        tokens(text), F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )


def subtokens(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(c, F.lit(SUBTOKEN_PATTERN), 0)


def stopword_hits(text: Column | str, words: tuple[str, ...]) -> Column:
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(tokens(text), lambda w: F.array_contains(arr, w)))


def quality_e4_int() -> Column:
    """Integer ten-thousandths quality score over (stop_hits, n_tokens,
    sum_len) BIGINT columns: round_half_up(1e4 * (0.5*stop_hits/n +
    0.5*n/(n + |sum_len - 5n|))) computed entirely in BIGINT via the
    rational recipe (2*(a*d + c*b) + b*d) div (2*b*d).  No float ever
    reaches the plan, so the value is bit-identical on Spark and every
    DuckDB build (round-tie rules and 1-ulp division differences in float
    paths are NOT portable — proven rounds 2/3).  Requires n_tokens >= 1
    (the divisor d = n + |sum_len - 5n| >= n >= 1)."""
    return F.expr(
        "(2 * (5000 * stop_hits * (n_tokens + abs(sum_len - 5 * n_tokens))"
        "      + 5000 * n_tokens * n_tokens)"
        " + n_tokens * (n_tokens + abs(sum_len - 5 * n_tokens)))"
        " div (2 * n_tokens * (n_tokens + abs(sum_len - 5 * n_tokens)))"
    )


def fingerprint(text: Column | str) -> Column:
    """Document fingerprint: md5 of the normalized text (lowercase, squeezed
    whitespace). 16 hex chars = 64 bits, plenty below collision risk for
    dedup bucketing at 100 TB (~2^32 docs before birthday bound bites)."""
    c = F.col(text) if isinstance(text, str) else text
    norm = F.regexp_replace(F.lower(c), " +", " ")
    return F.substring(F.md5(norm), 1, 16)
