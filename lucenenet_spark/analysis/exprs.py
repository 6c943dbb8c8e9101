"""Analyzer as Spark JVM column expressions (whole-stage-codegen path).

The standard analysis chain expressed entirely with built-in
pyspark.sql.functions so tokenization stays inside WholeStageCodegen —
no Python in the hot path.  Token/position semantics are the spec in
analysis/tokenizers.py (tests assert the two agree token-for-token).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .tokenizers import (
    ENGLISH_STOP_WORDS,
    MAX_TOKEN_LENGTH,
    STANDARD_ALTERNATION,
    SURFACE_SPLIT_PATTERN,
)

# Stable, sorted literal array of stopwords for array_contains-style filters.
_STOPWORDS_SORTED = sorted(ENGLISH_STOP_WORDS)


def raw_tokens(text: Column) -> Column:
    """SURFACE tokens ([a-z0-9]+ runs) in order, stopwords kept — the
    dedup/textstats spec (mirrored by oracle/sqlgen._raw_tok_cte).

    split() emits empty strings at boundaries; filter() drops them without
    disturbing relative order, so array index == token position.
    """
    toks = F.split(F.lower(text), SURFACE_SPLIT_PATTERN)
    return F.filter(toks, lambda t: t != F.lit(""))


def standard_tokens(text: Column) -> Column:
    """Full StandardTokenizer+StandardFilter tokens in order, stopwords
    kept (positions = array index) — the INDEX spec.  One JVM
    regexp_extract_all with the shared alternation, then the per-token
    StandardFilter transform ('s strip; acronym dot removal; invalid
    acronym -> HOST trailing-dot strip) as codegen'd expressions."""
    raw = F.regexp_extract_all(F.lower(text), F.lit(STANDARD_ALTERNATION), 0)

    def xf(t: Column) -> Column:
        t1 = F.regexp_replace(t, "'s$", "")
        return (
            F.when(t1.rlike(r"^(?:[a-z]\.){2,}$"),
                   F.regexp_replace(t1, r"\.", ""))
            .otherwise(F.regexp_replace(t1, r"\.$", ""))
        )

    return F.transform(raw, xf)


def is_indexed_token(tok: Column) -> Column:
    """True for tokens that survive StandardFilter+Stop+length chain."""
    return (F.length(tok) <= F.lit(MAX_TOKEN_LENGTH)) & (
        ~tok.isin(_STOPWORDS_SORTED)
    )


def indexed_tokens(text: Column) -> Column:
    """SURFACE tokens after stop/length removal (textstats spec)."""
    return F.filter(raw_tokens(text), is_indexed_token)

