"""Tokenization — the single source of truth for analyzer semantics.

Re-creates the reference analysis chain (StandardTokenizer -> StandardFilter
-> LowerCaseFilter -> StopFilter; reference:
src/Lucene.Net/Analysis/Standard/StandardAnalyzer.cs:107-115) with
simplified-but-exactly-specified token rules so that FOUR independent
implementations agree token-for-token:

  1. pure-Python (this module)                      -- oracle / tests
  2. pandas vectorized (analysis/udfs.py)           -- Arrow UDF build path
  3. Spark JVM column expressions (analysis/exprs.py) -- codegen query path
  4. DuckDB SQL fragments (oracle/sqlgen.py)        -- driver correctness gate

Semantics (the spec):
- standard analyzer: lowercase the text, tokens = maximal runs of [a-z0-9],
  positions assigned over ALL tokens (0-based), then drop tokens longer than
  255 chars (reference max token length,
  src/Lucene.Net/Analysis/Standard/StandardAnalyzer.cs:124) and the 33-word
  English stop set (src/Lucene.Net/Analysis/StopAnalyzer.cs:134).  Stop
  removal KEEPS position holes (StopFilter with enablePositionIncrements,
  src/Lucene.Net/Analysis/StopFilter.cs:128-140) so phrase queries cannot
  match across a removed stopword.
- doc_len (the BM25 norm, analogue of .nrm byte counts,
  src/Lucene.Net/Index/NormsWriter.cs:159-186) counts tokens EMITTED by the
  chain, i.e. after stop removal.
- code analyzer (lang-keyed, the north-rule "code-aware tokenizer"):
  identifiers = maximal runs of [A-Za-z0-9_]; each identifier is split on
  snake_case and camelCase boundaries and digit runs; sub-tokens are
  lowercased and each occupies one position; no stop removal (code corpora
  should keep `if`/`in`/`for`).
"""

from __future__ import annotations

import re
from collections.abc import Callable
from dataclasses import dataclass

# The exact 33-word English stop set of the reference
# (src/Lucene.Net/Analysis/StopAnalyzer.cs:134).
ENGLISH_STOP_WORDS: frozenset[str] = frozenset(
    {
        "a", "an", "and", "are", "as", "at", "be", "but", "by", "for",
        "if", "in", "into", "is", "it", "no", "not", "of", "on", "or",
        "such", "that", "the", "their", "then", "there", "these", "they",
        "this", "to", "was", "will", "with",
    }
)
assert len(ENGLISH_STOP_WORDS) == 33

MAX_TOKEN_LENGTH = 255  # StandardAnalyzer.cs:124

# ---- full StandardTokenizer token classes ----------------------------
# Re-derivation of the JFlex grammar
# (src/Lucene.Net/Analysis/Standard/StandardTokenizerImpl.jflex, type ids
# StandardTokenizer.cs:64-81), ASCII subset (LETTER=[a-z], digit=[0-9];
# THAI/CJ classes out of scope for this corpus), expressed as ONE
# leftmost-first regex alternation so the SAME pattern runs identically
# in Python re, Java regex (Spark JVM) and RE2 (DuckDB) — none of which
# implement JFlex's longest-match rule, so alternation ORDER encodes it:
#
#   EMAIL       alnum(.-_alnum)* @ alnum(.-alnum)+
#   APOSTROPHE  alpha('alpha)+            -- O'Reilly, you're
#   COMPANY     alpha[&@]alpha            -- AT&T, Excite@Home
#   NUM         P-joined segments, alternating HAS_DIGIT anchors
#   DOTTED      alnum(.alnum)+ optional trailing '.' -- HOST, ACRONYM,
#               ACRONYM_DEP folded into one branch; classified after the
#               match by shape (see _std_transform)
#   ALPHANUM    alnum run
#
# Known deviations from JFlex longest-match (documented, rare):
#   - "1.2-3": JFlex NUM wins over HOST prefix; here NUM is ordered
#     before DOTTED so it also wins — but mixed-P runs whose digit lies
#     only beyond a non-dot separator may segment differently
#     (e.g. "a-b-c2" -> [a, b-c2] here AND in JFlex — verified).
#   - HOST vs NUM type labels for all-dotted digit runs ("1.2.3.4")
#     differ (NUM here, HOST in JFlex); the emitted TERM is identical.
_P = r"[_\-/.,]"
_HD = r"[a-z]*[0-9][a-z0-9]*"  # HAS_DIGIT segment
STANDARD_ALTERNATION = (
    r"[a-z0-9]+(?:[._-][a-z0-9]+)*@[a-z0-9]+(?:[.-][a-z0-9]+)+"   # EMAIL
    r"|[a-z]+(?:'[a-z]+)+"                                        # APOSTROPHE
    r"|[a-z]+[&@][a-z]+"                                          # COMPANY
    rf"|(?:[a-z0-9]+{_P})?{_HD}(?:{_P}[a-z0-9]+{_P}{_HD})*(?:{_P}[a-z0-9]+)?"  # NUM
    r"|[a-z0-9]+(?:\.[a-z0-9]+)+\.?"                              # DOTTED
    r"|[a-z0-9]+"                                                 # ALPHANUM
)
STANDARD_TOKEN_RE = re.compile(STANDARD_ALTERNATION)
# dotted single letters ending '.' == ACRONYM (dots removed by
# StandardFilter, StandardFilter.cs:66-78); other trailing-dot DOTTED
# matches are ACRONYM_DEP -> HOST with the trailing dot stripped
# (replaceInvalidAcronym, StandardTokenizer.cs:182-193)
ACRONYM_RE = re.compile(r"(?:[a-z]\.){2,}")


def _std_transform(tok: str) -> str:
    """StandardFilter + invalid-acronym repair for one raw token."""
    if tok.endswith("'s"):
        tok = tok[:-2]  # possessive strip (StandardFilter.cs:61-65)
    if ACRONYM_RE.fullmatch(tok):
        return tok.replace(".", "")
    if tok.endswith("."):
        return tok[:-1]
    return tok


# ---- surface tokens: the simple [a-z0-9]+ spec, used by the DEDUP and
# TEXTSTATS operators (they analyze surface text, not index terms) and
# mirrored by oracle/sqlgen._raw_tok_cte.
SURFACE_TOKEN_RE = re.compile(r"[a-z0-9]+")
SURFACE_SPLIT_PATTERN = "[^a-z0-9]+"         # for Spark F.split(lower(x), ...)
SURFACE_EXTRACT_PATTERN = "[a-z0-9]+"        # for duckdb regexp_extract_all
# Back-compat aliases (pre-round-3 names)
STANDARD_SPLIT_PATTERN = SURFACE_SPLIT_PATTERN
STANDARD_EXTRACT_PATTERN = SURFACE_EXTRACT_PATTERN

# Code identifiers, then camel/snake/digit sub-splitting.
CODE_IDENT_RE = re.compile(r"[A-Za-z0-9_]+")
CODE_SUBTOKEN_RE = re.compile(r"[A-Z]+(?![a-z])|[A-Z][a-z0-9]*|[a-z0-9]+")

# Languages routed to the code analyzer (PerFieldAnalyzerWrapper analogue,
# src/Lucene.Net/Analysis/PerFieldAnalyzerWrapper.cs, keyed on `lang`).
CODE_LANGS: frozenset[str] = frozenset(
    {"python", "java", "csharp", "c", "cpp", "go", "rust", "js",
     "javascript", "typescript", "scala", "kotlin", "ruby", "php"}
)


@dataclass(frozen=True)
class StandardChain:
    """StandardTokenizer -> StandardFilter -> LowerCaseFilter -> length
    filter -> StopFilter (holes kept) -> optional per-term filter: the
    shape every term->term analyzer shares (StandardAnalyzer.cs:107-115,
    SnowballAnalyzer.cs TokenStream, GermanAnalyzer.cs:203-217).

    Calling it analyzes text -> [(term, position)], positions assigned
    over ALL raw tokens.  `transform` is the same chain applied to ONE
    raw token -> (term, keep); the index build runs it once per unique
    raw token of a partition instead of once per token.

    stop: terms dropped after StandardFilter (positions kept as holes).
    stem: term -> term applied to every kept token (a stemmer, reversal,
      exclusion-aware stem, ...); None keeps the term.
    token_re: the tokenizer pattern, run over the lowercased text."""

    stop: frozenset[str] = ENGLISH_STOP_WORDS
    stem: Callable[[str], str] | None = None
    token_re: re.Pattern = STANDARD_TOKEN_RE

    def transform(self, raw: str) -> tuple[str, bool]:
        tok = _std_transform(raw)
        if len(tok) > MAX_TOKEN_LENGTH or tok in self.stop:
            return tok, False
        return (tok if self.stem is None else self.stem(tok)), True

    def __call__(self, text: str | None) -> list[tuple[str, int]]:
        if text is None:
            return []
        out: list[tuple[str, int]] = []
        for pos, raw in enumerate(self.token_re.findall(text.lower())):
            tok, keep = self.transform(raw)
            if keep:
                out.append((tok, pos))
        return out


#: (term, position) pairs after the standard chain; holes preserved.
#: Full chain: StandardTokenizer type classes (EMAIL/APOSTROPHE/COMPANY/
#: NUM/HOST/ACRONYM/ALPHANUM) -> StandardFilter ('s strip, acronym dot
#: removal) -> LowerCaseFilter (folded into the lower() pre-pass) ->
#: length filter -> StopFilter with position holes.
tokenize_standard = StandardChain()


def _len_preserving_lower(text: str) -> str:
    """Lowercase without changing string length, so token character
    offsets computed on the lowered text index the STORED text too.
    The rare chars whose Unicode lowercase expands (e.g. İ) are kept
    as-is — a documented deviation affecting the term, not the offsets
    (ASCII corpora are unaffected)."""
    low = text.lower()
    if len(low) == len(text):
        return low
    return "".join(c if len(cl := c.lower()) != 1 else cl for c in text)


def tokenize_standard_offsets(
        text: str) -> list[tuple[str, int, int, int]]:
    """(term, position, start_offset, end_offset) after the standard
    chain — the WITH_POSITIONS_OFFSETS token stream
    (src/Lucene.Net/Documents/Field.cs:100, OffsetAttribute): offsets
    span the RAW tokenizer match in the stored text (the reference keeps
    tokenizer offsets even when StandardFilter rewrites the term)."""
    if text is None:
        return []
    low = _len_preserving_lower(text)
    out: list[tuple[str, int, int, int]] = []
    for pos, m in enumerate(STANDARD_TOKEN_RE.finditer(low)):
        tok, keep = tokenize_standard.transform(m.group(0))
        if keep:
            out.append((tok, pos, m.start(), m.end()))
    return out


def tokenize_code_offsets(text: str) -> list[tuple[str, int, int, int]]:
    """Code-analyzer twin of tokenize_standard_offsets (sub-token spans
    come straight from the raw text — no case pre-pass needed)."""
    if text is None:
        return []
    out: list[tuple[str, int, int, int]] = []
    for pos, m in enumerate(CODE_SUBTOKEN_RE.finditer(text)):
        sub = m.group(0)
        if len(sub) <= MAX_TOKEN_LENGTH:
            out.append((sub.lower(), pos, m.start(), m.end()))
    return out


def tokenize_code(text: str) -> list[tuple[str, int]]:
    """Code-aware: identifier extraction + camel/snake split, no stop set.

    Single-pass: CODE_SUBTOKEN_RE applied to the raw text yields exactly
    the per-identifier sub-tokens, because every character it can match is
    also an identifier character — `_`, whitespace and punctuation separate
    matches under both the two-pass (identifier, then sub-split) and the
    one-pass formulation, and positions increment once per sub-token
    either way. One findall per doc instead of one per identifier."""
    if text is None:
        return []
    out: list[tuple[str, int]] = []
    for pos, sub in enumerate(CODE_SUBTOKEN_RE.findall(text)):
        if len(sub) <= MAX_TOKEN_LENGTH:
            out.append((sub.lower(), pos))
    return out


_WS_RE = re.compile(r"\S+")
_LETTER_RE = re.compile(r"[^\W\d_]+", re.UNICODE)


def tokenize_whitespace(text: str) -> list[tuple[str, int]]:
    """WhitespaceTokenizer (src/Lucene.Net/Analysis/WhitespaceTokenizer.cs):
    maximal non-whitespace runs, case preserved, no filtering."""
    if text is None:
        return []
    return [(t, i) for i, t in enumerate(_WS_RE.findall(text))]


def tokenize_letter(text: str) -> list[tuple[str, int]]:
    """LetterTokenizer (CharTokenizer on IsLetter,
    src/Lucene.Net/Analysis/LetterTokenizer.cs): maximal letter runs,
    case preserved."""
    if text is None:
        return []
    return [(t, i) for i, t in enumerate(_LETTER_RE.findall(text))]


def tokenize_lowercase(text: str) -> list[tuple[str, int]]:
    """LowerCaseTokenizer = LetterTokenizer + LowerCaseFilter
    (src/Lucene.Net/Analysis/LowerCaseTokenizer.cs)."""
    return [(t.lower(), p) for t, p in tokenize_letter(text)]


def tokenize(text: str, lang: str | None = None) -> list[tuple[str, int]]:
    """Analyzer dispatch keyed on lang (PerFieldAnalyzerWrapper analogue)."""
    if lang is not None and lang.lower() in CODE_LANGS:
        return tokenize_code(text)
    return tokenize_standard(text)


def doc_length(text: str, lang: str | None = None) -> int:
    """Number of emitted tokens == BM25 doc length (norm analogue)."""
    return len(tokenize(text, lang))


def tokenize_values(values, lang: str | None = None,
                    gap: int = 0) -> list[tuple[str, int]]:
    """Multi-valued field analysis (Analyzer.GetPositionIncrementGap,
    src/Lucene.Net/Analysis/Analyzer.cs:108-126): value i+1's positions
    start `gap` past value i's position space, so a gap larger than any
    phrase slop blocks phrase matches across instance boundaries
    (gap=0 = the reference default: successive positions, exact phrases
    CAN match across the boundary).

    Deviation note: the base advances by value i's RAW token count, so
    trailing stopword holes survive the boundary (the reference's
    position counter drops increments pending at stream end) — only
    observable for cross-boundary sloppy phrases over trailing
    stopwords, and only at gap=0."""
    out: list[tuple[str, int]] = []
    base = 0
    for v in values or []:
        if v is None:
            continue
        toks = tokenize(v, lang)
        out.extend((t, base + p) for t, p in toks)
        raw_n = len(STANDARD_TOKEN_RE.findall(v.lower())) if lang is None \
            or lang.lower() not in CODE_LANGS else len(
                CODE_SUBTOKEN_RE.findall(v))
        base += raw_n + gap
    return out
