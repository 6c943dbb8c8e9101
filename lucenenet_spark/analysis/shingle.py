"""Shingle (word n-gram) and NGram (char n-gram) analyzers.

Re-creates contrib ShingleFilter and NGramTokenizer as `analyzer=`
callables for build_segmented_index (the Analyzer
extension point, SURVEY §2.12):

- shingle_analyzer: word n-grams over the standard chain
  (src/contrib/Analyzers/Shingle/ShingleFilter.cs). Faithful semantics:
  * shingles are adjacent tokens joined with " " (TOKEN_SEPARATOR,
    ShingleFilter.cs:59)
  * stop/length holes are occupied by the filler token "_"
    (FILLER_TOKEN, ShingleFilter.cs:48; GetNextToken inserts one filler
    per skipped position, ShingleFilter.cs:259-274) — fillers appear
    INSIDE shingles and, with output_unigrams, are also emitted as "_"
    unigrams (IncrementToken restores the buffer head state whatever it
    is, ShingleFilter.cs:171-193)
  * at stream position p the head unigram is emitted with position
    increment 1 and every shingle starting at p with increment 0 — i.e.
    all share position p (ShingleFilter.cs:213-217)
  * trailing holes vanish: the stream ends at the last surviving token
    (pending increments are dropped at end-of-stream), so no shingle
    extends past it (FillShingleBuffer shrinks the window at EOS,
    ShingleFilter.cs:333-337)

- ngram_analyzer / edge_ngram_analyzer: char n-grams of the raw text
  (src/contrib/Analyzers/NGram/NGramTokenizer.cs /
  EdgeNGramTokenizer.cs). Faithful semantics: ALL grams of size
  min_gram over the whole text first, then min_gram+1, ... (the
  tokenizer walks pos 0..len-n per size, NGramTokenizer.cs:96-118);
  every gram has position increment 1, so positions are sequential in
  emission order. The tokenizer itself does NOT lowercase or filter
  (it is a Tokenizer, not a chain).
"""

from __future__ import annotations

from .tokenizers import tokenize_standard

FILLER = "_"            # ShingleFilter.FILLER_TOKEN
TOKEN_SEPARATOR = " "   # ShingleFilter.TOKEN_SEPARATOR


def shingle_tokens(text: str | None, max_shingle: int = 2,
                   output_unigrams: bool = True) -> list[tuple[str, int]]:
    """(term, position) pairs of the shingled standard chain."""
    if max_shingle < 2:
        raise ValueError("max_shingle must be >= 2")  # ShingleFilter.cs:142
    toks = tokenize_standard(text)
    if not toks:
        return []
    # stream-with-fillers: positions 0..L-1, L = last survivor's pos + 1
    length = toks[-1][1] + 1
    stream = [FILLER] * length
    for t, p in toks:
        stream[p] = t
    out: list[tuple[str, int]] = []
    for p in range(length):
        if output_unigrams:
            out.append((stream[p], p))
        for s in range(2, max_shingle + 1):
            if p + s <= length:
                out.append((TOKEN_SEPARATOR.join(stream[p:p + s]), p))
    return out


def shingle_analyzer(max_shingle: int = 2, output_unigrams: bool = True):
    """analyzer= callable for the index builders."""
    def analyze(text):
        return shingle_tokens(text, max_shingle, output_unigrams)
    return analyze


def ngram_tokens(text: str | None, min_gram: int = 1,
                 max_gram: int = 2) -> list[tuple[str, int]]:
    """Char n-grams, all of size min_gram first then larger — positions
    sequential in emission order (NGramTokenizer.cs:96-118)."""
    if min_gram < 1:
        raise ValueError("minGram must be greater than zero")
    if min_gram > max_gram:
        raise ValueError("minGram must not be greater than maxGram")
    if not text:
        return []
    out: list[tuple[str, int]] = []
    pos = 0
    for n in range(min_gram, max_gram + 1):
        for i in range(len(text) - n + 1):
            out.append((text[i:i + n], pos))
            pos += 1
    return out


def ngram_analyzer(min_gram: int = 1, max_gram: int = 2):
    def analyze(text):
        return ngram_tokens(text, min_gram, max_gram)
    return analyze


def edge_ngram_tokens(text: str | None, min_gram: int = 1,
                      max_gram: int = 1,
                      side: str = "front") -> list[tuple[str, int]]:
    """Edge n-grams anchored at the front or back of the text
    (EdgeNGramTokenizer.cs: Side.FRONT takes prefixes, Side.BACK takes
    suffixes; gram sizes min..max, one token per size, sequential
    positions)."""
    if side not in ("front", "back"):
        raise ValueError("side must be 'front' or 'back'")
    if min_gram < 1:
        raise ValueError("minGram must be greater than zero")
    if min_gram > max_gram:
        raise ValueError("minGram must not be greater than maxGram")
    if not text:
        return []
    out: list[tuple[str, int]] = []
    pos = 0
    for n in range(min_gram, max_gram + 1):
        if n > len(text):
            break
        gram = text[:n] if side == "front" else text[-n:]
        out.append((gram, pos))
        pos += 1
    return out


def edge_ngram_analyzer(min_gram: int = 1, max_gram: int = 1,
                        side: str = "front"):
    def analyze(text):
        return edge_ngram_tokens(text, min_gram, max_gram, side)
    return analyze
