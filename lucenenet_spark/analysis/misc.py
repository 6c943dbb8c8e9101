"""contrib Analyzers periphery: Reverse, Pattern, Position, and
index-derived auto stopwords.

- reverse_* — ReverseStringFilter (src/contrib/Analyzers/Reverse/
  ReverseStringFilter.cs): every token reversed in place.  Its real job
  (the Solr ReversedWildcard pattern) is LEADING-WILDCARD acceleration:
  index the reversed terms as a shadow field, then answer `*suffix` as
  a PREFIX query on that field — turning the one multiterm query that
  cannot use the term dictionary's sorted order into one that can.
  `leading_wildcard_query` performs that rewrite.

- pattern_* — PatternAnalyzer (src/contrib/Analyzers/Miscellaneous/
  PatternAnalyzer.cs): the regex IS the tokenizer.  The pattern SPLITS
  (the reference's semantics — the pattern matches separators, not
  tokens), with optional lowercasing and stop removal; positions count
  every emitted token.

- position_filter_* — PositionFilter (src/contrib/Analyzers/Position/
  PositionFilter.cs): first token keeps its increment, every later
  token's increment is forced to `position_increment` (default 0) — so
  with the default the whole stream stacks at one position (the
  query-side "treat all words as one slot" trick).

- auto_stopwords / auto_stop_analyzer — QueryAutoStopWordAnalyzer
  (src/contrib/Analyzers/Query/QueryAutoStopWordAnalyzer.cs:49-93):
  terms whose df EXCEEDS maxDocFreq = int(numDocs × maxPercentDocs)
  become stopwords on top of the delegate chain.  Derivation is one
  vocabulary-scale job over term_stats (collecting only the high-df
  tail, by construction a tiny set); removal leaves position holes
  exactly like the standard StopFilter.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from .tokenizers import ENGLISH_STOP_WORDS, MAX_TOKEN_LENGTH, StandardChain

DEFAULT_MAX_DOC_FREQ_PERCENT = 0.4  # QueryAutoStopWordAnalyzer.cs:19


# ---- ReverseStringFilter + leading-wildcard acceleration ----

def _reverse(term: str) -> str:
    return term[::-1]


#: ReverseStringFilter after the standard chain
reverse_tokens = StandardChain(stem=_reverse)


def reverse_analyzer():
    """analyzer= callable: the shadow-field build for leading wildcards."""
    return reverse_tokens


def leading_wildcard_query(pattern: str, reversed_field: str):
    """Rewrite `*suffix` / `?suffix`-style patterns whose wildcards are
    all LEADING into a dictionary-friendly query on the reversed field:
    `*suffix` -> Prefix(reversed(suffix)); any other shape -> Wildcard
    on the reversed text (still better: the reversed pattern now has a
    literal prefix for the term dictionary)."""
    from ..plans import ast
    if pattern.startswith("*") and not any(c in pattern[1:] for c in "*?"):
        return ast.Prefix(pattern[1:][::-1], field=reversed_field)
    rev = pattern[::-1].translate(str.maketrans({"*": "*", "?": "?"}))
    return ast.Wildcard(rev, field=reversed_field)


# ---- PatternAnalyzer ----

def pattern_tokens(text: str | None, pattern: str = r"\W+",
                   lowercase: bool = True,
                   stopwords: set[str] | None = ENGLISH_STOP_WORDS
                   ) -> list[tuple[str, int]]:
    if not text:
        return []
    if lowercase:
        text = text.lower()
    out: list[tuple[str, int]] = []
    pos = 0
    for tok in re.split(pattern, text):
        if not tok:
            continue
        if len(tok) <= MAX_TOKEN_LENGTH and (
                not stopwords or tok not in stopwords):
            out.append((tok, pos))
        pos += 1  # removed tokens leave holes, like StopFilter
    return out


def pattern_analyzer(pattern: str = r"\W+", lowercase: bool = True,
                     stopwords: set[str] | None = ENGLISH_STOP_WORDS):
    def analyze(text):
        return pattern_tokens(text, pattern, lowercase, stopwords)
    return analyze


# ---- PositionFilter ----

def position_filter_tokens(toks: list[tuple[str, int]],
                           position_increment: int = 0
                           ) -> list[tuple[str, int]]:
    """Re-space an analyzed stream: first token keeps its position,
    later tokens advance by position_increment each."""
    out: list[tuple[str, int]] = []
    pos = None
    for t, p in toks:
        pos = p if pos is None else pos + position_increment
        out.append((t, pos))
    return out


# ---- QueryAutoStopWordAnalyzer ----

def auto_stopwords(index, field: str = "text",
                   max_percent_docs: float = DEFAULT_MAX_DOC_FREQ_PERCENT
                   ) -> set[str]:
    """Terms with df > int(numDocs * maxPercentDocs) in the given field."""
    max_df = int(index.n_docs * max_percent_docs)
    rows = (index.term_stats()
            .where((F.col("field") == field) & (F.col("df") > max_df))
            .select("term").collect())
    return {r["term"] for r in rows}


def auto_stop_analyzer(stop_terms: set[str]):
    """Standard chain minus the derived stop set (holes preserved)."""
    return StandardChain(ENGLISH_STOP_WORDS | frozenset(stop_terms))


# ---- contrib/Core Analysis.Ext (src/contrib/Core/Analysis/Ext/
# Analysis.Ext.cs) --------------------------------------------------

def letter_or_digit_tokens(text: str | None) -> list[tuple[str, int]]:
    """LetterOrDigitTokenizer: maximal runs of char.IsLetterOrDigit
    (Unicode letters + digits), one position each."""
    if text is None:
        return []
    return [(m.group(0), pos) for pos, m in
            enumerate(re.finditer(r"[^\W_]+", text))]


def unaccented_word_analyzer():
    """UnaccentedWordAnalyzer: LetterOrDigitTokenizer -> LowerCase ->
    ASCIIFoldingFilter — accent-insensitive whole-word terms."""
    from .folding import fold_ascii_py

    def analyze(text: str) -> list[tuple[str, int]]:
        return [(fold_ascii_py(t.lower()), p)
                for t, p in letter_or_digit_tokens(text)]
    return analyze


def single_char_token_analyzer():
    """SingleCharTokenAnalyzer: the unaccented chain then EVERY char as
    its own token (SingleCharTokenizer) — the contrib's contains-query
    accelerator (each char indexed at consecutive positions, so any
    substring is a phrase query).  The first char of each source token
    keeps the token's position slot; subsequent chars occupy the
    following positions, matching the increment-preserving split."""
    from .folding import fold_ascii_py

    def analyze(text: str) -> list[tuple[str, int]]:
        out: list[tuple[str, int]] = []
        pos = 0
        for tok, _p in letter_or_digit_tokens(text):
            for ch in fold_ascii_py(tok.lower()):
                out.append((ch, pos))
                pos += 1
        return out
    return analyze


def thai_word_filter(tokens):
    """ThaiWordFilter parity: the reference's OWN port throws
    NotSupportedException("PORT ISSUES")
    (src/contrib/Analyzers/Th/ThaiWordFilter.cs:46-49 — the
    BreakIterator dictionary segmenter never made it across from Java).
    Faithful behavior = the same refusal."""
    raise NotImplementedError(
        "ThaiWordFilter: unsupported in the reference itself "
        "(ThaiWordFilter.cs throws NotSupportedException)")
